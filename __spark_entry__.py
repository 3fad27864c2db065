"""Driver contract for the spark-graft builder (PySpark target).

`queries()` covers, per SURVEY.md §2:
- g_*  geist-parity transform operators routed through the REAL spec
       compiler (geist_spark.compiler) over JSON-ified driver tables
- q_*  relational/window operators (the surface the reference defers
       to Spark: joins/aggs/windows/sessionization)
- d_*  dedup family (exact, minhash-LSH, simhash, n-gram Jaccard)
- s_*  similarity search over embeddings
- t_*  text analysis (quality/lang-id/token stats/fingerprints)
- m_*  multimodal binary-column plumbing (stubbed decode)

Every oracle_sql() entry is exact ANSI SQL for DuckDB over the same
parquet; all float outputs are rounded identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from geist_spark.functions.localdf import local_df

SF_DEFAULT = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from geist_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name)


def _pd_barrier(col: "F.Column") -> "F.Column":
    """Predicate-pushdown barrier: shuffle() of a 1-element array is
    the identity map, but the expression is formally non-deterministic
    so the optimizer cannot rewrite a downstream filter through the
    projection and push it below a widening exchange. Use ONLY where a
    compiled filter would otherwise drag the per-row JSON parse below
    the fan-out exchange onto the single parquet split (measured:
    g_exclude_multi_cond 2.4 s -> 1.4 s); on filter-free consumers it
    blocks the from_json(to_json(..)) round-trip elimination and
    costs ~0.2 s, so it is opt-in."""
    return F.shuffle(F.array(col))[0]


def _events_as_json(
    spark: SparkSession, sf_dir: str, barrier: bool = False
) -> DataFrame:
    """events table -> geist-shaped JSON event stream (value: string).

    props arrives as a JSON string; its `k` field is lifted so JSON
    paths hit real nesting.

    _fan first: the downstream compiled transforms do per-row JSON
    parsing + regex work, and the driver events table is a single
    parquet split — without widening, every g_* gate runs its whole
    extraction on one core (g_timeconv measured 3.7 s -> 0.6 s).

    barrier=True (_pd_barrier) for consumers whose compiled transform
    FILTERS: excludeEventsWith predicates otherwise get rewritten in
    terms of the scan columns (inlining the whole to_json+from_json
    chain) and pushed BELOW the round-robin exchange, where the full
    per-row parse runs single-task in a Filter above the 1-split scan
    (plans/r09/g_exclude_multi_cond: Filter(2) under Exchange(3))."""
    ev = _fan(_t(spark, sf_dir, "events"))
    value = F.to_json(
        F.struct(
            F.col("event_id"),
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
    )
    if barrier:
        value = _pd_barrier(value)
    return ev.select(value.alias("value"))


def _compile(transform: dict):
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    return compile_transform(
        parse_spec(
            {
                "namespace": "bench",
                "streamIdSuffix": "q",
                "description": "driver query",
                "version": 1,
                "source": {"type": "geistapi"},
                "transform": transform,
                "sink": {"type": "void"},
            }
        )
    )


# DuckDB equivalents of geist_spark.operators.dedup text normalization
_NORM_SQL = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_TOKENS_SQL = f"regexp_split_to_array({_NORM_SQL}, '\\s+')"

# sign-bit packing replay (similarity.binary_quantize): 32-dim words,
# MSB-first integer fold; scalar list_reduce acc (safe — see the
# ADPCM oracle note on the struct-field in-place bug)
_BINARY_BITS_CTE = """
    bits AS (
        SELECT vec_id,
               [list_reduce([CASE WHEN e > 0 THEN CAST(1 AS BIGINT)
                                  ELSE CAST(0 AS BIGINT) END
                             for e in embedding[(w-1)*32+1 :
                                                least(w*32, len(embedding))]],
                            (acc, x) -> acc * 2 + x)
                for w in generate_series(1, (len(embedding)-1)//32 + 1)]
                   AS bits
        FROM embeddings
    )
"""

# winnowing fingerprint replay (text.winnow_fingerprints, k=5 window=4):
# md5-32bit char-5-gram hashes, list_min per 4-window with the
# rightmost-tie position, row-level DISTINCT = array_distinct
_WINNOW_FP_CTE = f"""
    WITH nd AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents),
    g AS (
        SELECT doc_id,
               [('0x' || substr(md5(substr(norm, CAST(i AS INTEGER), 5)),
                                1, 8))::BIGINT
                for i in generate_series(1, greatest(strlen(norm) - 4, 1))]
                   AS grams
        FROM nd
    ),
    w AS (
        SELECT doc_id, grams, CAST(j AS INTEGER) AS j,
               list_min(grams[CAST(j AS INTEGER):
                              least(CAST(j AS INTEGER) + 3, len(grams))])
                   AS mh
        FROM g, UNNEST(generate_series(1, greatest(len(grams) - 3, 1)))
             AS t(j)
    ),
    fp AS (
        SELECT DISTINCT doc_id,
               CAST(list_max([j + o for o in [0, 1, 2, 3]
                              if grams[j + o] = mh]) AS INTEGER) AS pos,
               mh AS fp_hash
        FROM w
    )
"""


# ---------------------------------------------------------------- geist parity


def g_extract_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ct = _compile(
        {
            "extractFields": [
                {
                    "fields": [
                        {"id": "eid", "jsonPath": "event_id", "type": "integer"},
                        {"id": "etype", "jsonPath": "event_type"},
                        {"id": "amount", "jsonPath": "value", "type": "float"},
                        {"id": "k", "jsonPath": "k", "type": "integer"},
                    ]
                }
            ]
        }
    )
    return ct.apply(_events_as_json(spark, sf_dir))


def g_exclude_blacklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ct = _compile(
        {
            "excludeEventsWith": [{"key": "event_type", "values": ["error", "click"]}],
            "extractFields": [
                {
                    "fields": [
                        {"id": "eid", "jsonPath": "event_id", "type": "integer"},
                        {"id": "etype", "jsonPath": "event_type"},
                    ]
                }
            ],
        }
    )
    return ct.apply(_events_as_json(spark, sf_dir, barrier=True))


def g_exclude_whitelist(spark: SparkSession, sf_dir: str) -> DataFrame:
    ct = _compile(
        {
            "excludeEventsWith": [
                {"key": "event_type", "valuesNotIn": ["purchase", "signup"]}
            ],
            "extractFields": [
                {
                    "fields": [
                        {"id": "eid", "jsonPath": "event_id", "type": "integer"},
                        {"id": "etype", "jsonPath": "event_type"},
                    ]
                }
            ],
        }
    )
    return ct.apply(_events_as_json(spark, sf_dir, barrier=True))


def g_exclude_multi_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drop (error AND user 13) OR (click AND user 7)
    ct = _compile(
        {
            "excludeEventsWithMultipleConditions": [
                {
                    "filters": [
                        {"key": "event_type", "values": ["error"]},
                        {"key": "user_id", "values": ["13"]},
                    ]
                },
                {
                    "filters": [
                        {"key": "event_type", "values": ["click"]},
                        {"key": "user_id", "values": ["7"]},
                    ]
                },
            ],
            "extractFields": [
                {
                    "fields": [
                        {"id": "eid", "jsonPath": "event_id", "type": "integer"},
                        {"id": "etype", "jsonPath": "event_type"},
                        {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                    ]
                }
            ],
        }
    )
    return ct.apply(_events_as_json(spark, sf_dir, barrier=True))


def g_dispatch_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ct = _compile(
        {
            "extractFields": [
                {
                    "forEventsWith": [{"key": "event_type", "value": "purchase"}],
                    "fields": [
                        {"id": "etype", "jsonPath": "event_type"},
                        {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                        {"id": "amount", "jsonPath": "value", "type": "float"},
                    ],
                },
                {
                    "forEventsWith": [{"key": "event_type", "value": "signup"}],
                    "fields": [
                        {"id": "etype", "jsonPath": "event_type"},
                        {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                    ],
                },
            ]
        }
    )
    return ct.apply(_events_as_json(spark, sf_dir))


def g_array_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    events = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.to_json(
            F.struct(
                F.collect_list(
                    F.struct(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
                ).alias("items")
            )
        ).alias("value")
    )
    ct = _compile(
        {
            "extractItemsFromArray": [
                {
                    "id": "m",
                    "items": {
                        "jsonPathToArray": "items",
                        "idFromItemFields": {"delimiter": "#", "fields": ["pk", "sk"]},
                    },
                }
            ]
        }
    )
    out = ct.apply(events, keep_cols=("okey",))
    return out.select("okey", F.explode(F.map_keys("m")).alias("item_key")).distinct()


def g_regexp_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    df = orders.select(
        F.col("o_orderkey").alias("okey"), F.col("o_orderpriority").alias("value")
    )
    ct = _compile(
        {"regexp": {"expression": "^(?P<prio>\\d)-(?P<level>.+)$"}}
    )
    return ct.apply(df, keep_cols=("okey",))


def g_timeconv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.functions.timeconv import convert_time

    # _fan: DateTimeFormatter parse + regex offset splice cost ~35 µs
    # per row — single-split input serialized the stage on one core
    # (3.7 s -> 0.6 s at sf0.1; no-op on healthy wide scans)
    ev = _fan(_t(spark, sf_dir, "events"))
    log_style = F.date_format(F.col("ts"), "dd/MMM/yyyy:HH:mm:ss +0000")
    return ev.select(
        "event_id",
        convert_time(log_style, "02/Jan/2006:15:04:05 -0700", None).alias("iso_ts"),
    )


# ---------------------------------------------------------------- relational


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import pricing_summary

    return pricing_summary(_t(spark, sf_dir, "lineitem"))


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import revenue_by_nation

    return revenue_by_nation(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_revenue_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import revenue_by_brand

    return revenue_by_brand(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


def q_top3_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import top_n_per_key

    return top_n_per_key(
        _t(spark, sf_dir, "events"), "user_id", "ts", 3, "event_id"
    ).select("user_id", "event_id", "ts")


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import latest_event_per_user

    return latest_event_per_user(_t(spark, sf_dir, "events"))


def q_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import hourly_rollup

    return hourly_rollup(_t(spark, sf_dir, "events"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import sessionize

    return sessionize(_t(spark, sf_dir, "events"))


def q_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL distinct-count rollup: hour-grain sketches
    unioned to per-type totals WITHOUT rescanning the raw table — the
    pre-aggregated-cube pattern at 100 TB. lg_k=14 keeps the
    DataSketches coupon-set regime (exact until ~2^(lg_k-3) = 2048
    distinct per group) through sf0.1's 1500 users/type, so the DuckDB
    oracle checks exact distincts; past that regime HLL estimates and
    the oracle would need a rows-only check."""
    from geist_spark.operators.sketch import hll_merge, hll_rollup

    ev = _t(spark, sf_dir, "events").withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    hourly = hll_rollup(ev, ["hour", "event_type"], "user_id", lg_k=14)
    return hll_merge(hourly, ["event_type"]).select(
        F.col("event_type").alias("etype"), "distinct_est", "n_rows"
    )


def q_hist_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-histogram quantile rollup (operators/sketch.py):
    hour-grain fixed-bin histograms merged to per-type quantile
    estimates without rescanning the raw table — the quantile analogue
    of q_hll_rollup. Deterministic lower-edge estimates, so the DuckDB
    oracle replays the arithmetic exactly."""
    from geist_spark.operators.sketch import (
        hist_merge,
        hist_quantiles,
        hist_rollup,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    hourly = hist_rollup(
        ev, ["hour", "event_type"], "value", lo=0.0, hi=100.0, n_bins=64
    )
    merged = hist_merge(hourly, ["event_type"])
    return hist_quantiles(
        merged, ["event_type"], [0.5, 0.9, 0.99], lo=0.0, hi=100.0, n_bins=64
    ).select(
        F.col("event_type").alias("etype"), "p50", "p90", "p99", "n_values"
    )


RANGE_BANDS = [
    ("low", 0.0, 15.0),
    ("mid", 10.0, 40.0),
    ("high", 30.0, 80.0),
    ("top", 60.0, 120.0),
]


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-range join (overlapping bands) via bucketed equi-join —
    no BroadcastNestedLoop/cartesian in the plan (see range_join doc)."""
    from geist_spark.operators.relational import range_join

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    bands = local_df(spark, RANGE_BANDS, "band string, lo double, hi double")
    joined = range_join(
        ev, bands, "value", "lo", "hi", bucket_width=20.0, broadcast_ranges=True
    )
    from geist_spark.operators.relational import exact_sum

    return joined.groupBy("band").agg(
        F.count("*").alias("n"), exact_sum("value").alias("total")
    )


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import order_priority_counts

    return order_priority_counts(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "lineitem")
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import shipping_priority

    return shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import forecast_revenue

    return forecast_revenue(_t(spark, sf_dir, "lineitem"))


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import returned_item_report

    return returned_item_report(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "nation"),
    )


def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import large_order_customers

    return large_order_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.relational import dormant_customers

    return dormant_customers(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-shape correlated min per group, decorrelated to a
    partial agg + tiny per-brand window (relational.py)."""
    from geist_spark.operators.relational import cheapest_supplier_per_brand

    return cheapest_supplier_per_brand(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-shape correlated-avg threshold in exact decimal
    multiply form (relational.py)."""
    from geist_spark.operators.relational import small_quantity_revenue

    return small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shape EXISTS / NOT-EXISTS pair decorrelated into one
    per-order conditional aggregation (relational.py)."""
    from geist_spark.operators.relational import late_sole_suppliers

    return late_sole_suppliers(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "supplier"),
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-shape max-over-view with broadcast 1-row max
    (relational.py)."""
    from geist_spark.operators.relational import top_revenue_suppliers

    return top_revenue_suppliers(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency member of the mergeable-sketch family: per-event-type
    count-min cells merged to one global sketch, then per-user
    frequency estimates read from the SKETCH alone (raw table never
    rescanned) — top 10 users by estimated event count."""
    from geist_spark.operators.sketch import cms_estimate, cms_merge, cms_rollup

    ev = _t(spark, sf_dir, "events")
    cells = cms_rollup(ev, ["event_type"], "user_id", width=256, depth=4)
    merged = cms_merge(cells)
    est = cms_estimate(merged, ev, "user_id", width=256, depth=4)
    return est.orderBy(
        F.col("est_count").desc(), F.col("user_id").asc()
    ).limit(10)


def q_session_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence assembly: sessionized, chronologically ordered
    event sequences per user, digested to fixed-width scalars."""
    from geist_spark.operators.relational import session_sequences

    return session_sequences(_t(spark, sf_dir, "events"), gap_minutes=30)


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout audit: key events by interleaved
    (value, user_id) bits, then per coarse z-cell report row count and
    per-dimension min/max — the stats that drive multi-dim file
    pruning once the layout is written."""
    from geist_spark.operators.bucketing import linear_bin, zorder_key

    ev = _t(spark, sf_dir, "events")
    bins = [
        linear_bin(F.col("value"), 0.0, 200.0, 8),
        linear_bin(F.col("user_id"), 0.0, 2048.0, 8),
    ]
    keyed = ev.withColumn("__z", zorder_key(bins, 8))
    return (
        keyed.groupBy(F.shiftright(F.col("__z"), 8).alias("z_cell"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
        )
    )


def p_table_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table fingerprint: the constant-size digest a
    100 TB backfill/migration compares instead of re-diffing rows."""
    from geist_spark.operators.integrity import table_digest

    return table_digest(
        _t(spark, sf_dir, "documents"),
        ["doc_id", "text", "lang", "source", "n_chars"],
    )


def p_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-data export sharding: md5-bucket shard
    assignment + per-shard manifest (rows, bytes, order-independent
    content digest) — what an export validates/diffs before a training
    job trusts it (operators/split.py)."""
    from geist_spark.operators.split import shard_manifest

    return shard_manifest(
        _t(spark, sf_dir, "documents"),
        key_col="doc_id",
        n_shards=8,
        content_cols=["doc_id", "text", "source"],
    )


def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab: quantity per linestatus x returnflag with explicit
    pivot values (single-pass, fixed schema)."""
    from geist_spark.operators.relational import pivot_table

    return pivot_table(
        _t(spark, sf_dir, "lineitem"),
        ["l_linestatus"],
        "l_returnflag",
        ["A", "N", "R"],
        "l_quantity",
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals with grouping level ids."""
    from geist_spark.operators.relational import rollup_report

    return rollup_report(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
    )


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type with zero-filled gaps."""
    from geist_spark.operators.relational import gap_fill_hourly

    return gap_fill_hourly(_t(spark, sf_dir, "events"), "event_type")


def t_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive vocabulary per source by frequency lift (rational
    TF-IDF analog), top 5 terms per source."""
    from geist_spark.operators.text import top_terms_per_source

    return top_terms_per_source(
        _t(spark, sf_dir, "documents"), top_n=5, min_tf=5
    ).select("source", "term", "tf", "lift")


def s_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the LSH ANN vs exact brute force per probe."""
    from geist_spark.operators.similarity import ann_recall_report

    return ann_recall_report(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        num_planes=4,
    )


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaviest-key shuffle diagnostic over events.user_id."""
    from geist_spark.operators.skew import key_skew_report

    return key_skew_report(_t(spark, sf_dir, "events"), "user_id", top_n=10)


def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user consecutive event-type transition counts/probabilities."""
    from geist_spark.operators.relational import event_transition_matrix

    return event_transition_matrix(_t(spark, sf_dir, "events"))


def q_bloom_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join: events by suppliers-as-keyset,
    counted per event type. Result is EXACT (bloom over-admits only;
    the confirm join removes false positives), so the oracle is the
    plain EXISTS semi join."""
    from geist_spark.operators.prep import bloom_semi_join

    ev = _t(spark, sf_dir, "events")
    sup = _t(spark, sf_dir, "supplier")
    kept = bloom_semi_join(
        ev, sup, "user_id", "s_suppkey", how="semi", m_bits=1 << 14
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def q_bloom_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered anti join: definite non-members skip the join
    entirely; only bloom-admitted rows pay the exact confirm."""
    from geist_spark.operators.prep import bloom_semi_join

    ev = _t(spark, sf_dir, "events")
    sup = _t(spark, sf_dir, "supplier")
    kept = bloom_semi_join(
        ev, sup, "user_id", "s_suppkey", how="anti", m_bits=1 << 14
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-only equi-join size estimate (events x orders on
    customer key): the pre-shuffle planning number, computed from two
    CMS images without rescanning either table."""
    from geist_spark.operators.sketch import (
        cms_join_size_estimate,
        cms_merge,
        cms_rollup,
    )

    ev = cms_merge(
        cms_rollup(_t(spark, sf_dir, "events"), [], "user_id", 256, 4)
    )
    od = cms_merge(
        cms_rollup(_t(spark, sf_dir, "orders"), [], "o_custkey", 256, 4)
    )
    return cms_join_size_estimate(ev, od)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed compaction: latest event per user wins; a latest
    'error' event is a tombstone and removes the user from the state."""
    from geist_spark.operators.relational import cdc_apply

    state = cdc_apply(
        _t(spark, sf_dir, "events"),
        ["user_id"],
        "ts",
        "event_id",
        delete_when=F.col("event_type") == "error",
    )
    return state.select("user_id", "event_id", "event_type")


def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 history intervals from the event feed (per-user
    versions with valid_from/valid_to/is_current)."""
    from geist_spark.operators.relational import scd2_history

    hist = scd2_history(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "event_id"
    )
    return hist.select(
        "user_id", "event_id", "valid_from", "valid_to", "is_current"
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (signup -> view -> purchase): one scan,
    one shuffle, per-user array walk instead of k self-joins."""
    from geist_spark.operators.relational import funnel_conversion

    return funnel_conversion(
        _t(spark, sf_dir, "events"), ["signup", "view", "purchase"]
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix (cohort x periods-since,
    distinct users)."""
    from geist_spark.operators.relational import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"), period_days=7)


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: user sessions x daily one-hour
    maintenance windows; sessions overlapping each window counted.
    Bucketed equi-join, no cartesian."""
    from geist_spark.operators.relational import interval_join, sessionize

    ev = _t(spark, sf_dir, "events")
    sess = sessionize(ev, gap_minutes=30).select(
        F.concat_ws("#", "user_id", "session_seq").alias("session_id"),
        F.col("session_start"),
        F.col("session_end"),
    )
    bounds = ev.agg(
        F.date_trunc("DAY", F.min("ts")).alias("lo"),
        F.date_trunc("DAY", F.max("ts")).alias("hi"),
    )
    windows = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("w_start")
    ).select(
        "w_start", (F.col("w_start") + F.expr("INTERVAL 1 HOUR")).alias("w_end")
    )
    pairs = interval_join(
        sess, windows, "session_id", "w_start",
        l_start="session_start", l_end="session_end",
        r_start="w_start", r_end="w_end",
    )
    return pairs.groupBy("w_start").agg(
        F.count(F.lit(1)).alias("n_sessions")
    )


def t_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-cutoff tuning curve: per (source, min-length threshold),
    surviving docs and character mass — one scan for the whole grid."""
    from geist_spark.operators.prep import threshold_sweep

    return threshold_sweep(
        _t(spark, sf_dir, "documents"),
        "n_chars",
        "source",
        [0.0, 200.0, 500.0, 1000.0, 2000.0],
    )


def t_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top shingles by distinct-document frequency — boilerplate
    candidates for exclusion filters."""
    from geist_spark.operators.text import boilerplate_ngrams

    return boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), k=3, top_n=20, min_docs=2
    )


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day per-event activity features (RANGE window over
    microsecond epochs, deterministic under timestamp ties)."""
    from geist_spark.operators.relational import rolling_user_features

    return rolling_user_features(_t(spark, sf_dir, "events"), days=7)


def p_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """alpha=0.5 temperature re-mixing of sources (boost rare, damp
    dominant), expected half the corpus; reported per source."""
    from geist_spark.operators.split import temperature_mix

    kept = temperature_mix(
        _t(spark, sf_dir, "documents"), "source", "doc_id"
    )
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_kept"))


# ---------------------------------------------------------------- dedup


def d_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard (the
    prefilter -> exact-confirm contract)."""
    from geist_spark.operators.dedup import verified_near_dup_pairs

    return verified_near_dup_pairs(
        _t(spark, sf_dir, "documents"),
        num_hashes=16,
        bands=4,
        k=3,
        threshold=0.5,
    )


def d_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication census: distinct shared contents per
    source pair."""
    from geist_spark.operators.dedup import source_overlap_matrix

    return source_overlap_matrix(_t(spark, sf_dir, "documents"))


def t_score_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source percentile normalization of n_chars via the
    mergeable histogram (one-bin resolution)."""
    from geist_spark.operators.sketch import percentile_normalize

    out = percentile_normalize(
        _t(spark, sf_dir, "documents"),
        "n_chars",
        "source",
        lo=0.0,
        hi=4096.0,
        n_bins=64,
    )
    return out.select("doc_id", "source", "n_chars", "pct")


def p_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-cluster-aware split: whole clusters land in one split
    (no train/test leakage through duplicates). Reports per-split doc
    counts plus the count of clusters spanning >1 split (must be 0)."""
    from geist_spark.operators.dedup import minhash_lsh_pairs
    from geist_spark.operators.split import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, k=3)
    assigned = leakage_safe_split(docs, pairs)
    return assigned.groupBy("split").agg(F.count(F.lit(1)).alias("n_docs"))


def p_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source caps in tokens: deterministic md5-priority admission
    until the 20k-token budget per source."""
    from geist_spark.operators.prep import token_budget_quota

    kept = token_budget_quota(_t(spark, sf_dir, "documents"), 20000)
    return kept.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))


def d_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source near-dup incidence (fraction of docs in any LSH
    pair) — the census that prioritizes dedup effort."""
    from geist_spark.operators.dedup import near_dup_rate_by_source

    return near_dup_rate_by_source(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, k=3
    )


def d_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: a stored corpus band index
    (doc_id % 5 != 0) is probed by a new batch (doc_id % 5 == 0); only
    the batch is shingled/hashed — O(batch), never O(corpus)."""
    from geist_spark.operators.dedup import (
        incremental_dedup_pairs,
        minhash_bands,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    index = minhash_bands(corpus, num_hashes=16, bands=4, k=3)
    return incremental_dedup_pairs(batch, index, num_hashes=16, bands=4, k=3)


def d_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shared-substring spans >= 40 chars between doc pairs —
    the suffix-array dedup family (Lee et al. 2022) as a gram-hash
    inverted-index join + diagonal run merge (operators/dedup.py
    substring_dup_spans). Integer outputs, engine-exact."""
    from geist_spark.operators.dedup import substring_dup_spans

    return substring_dup_spans(_t(spark, sf_dir, "documents"), min_len=40)


def d_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.dedup import exact_dedup_groups

    return exact_dedup_groups(_t(spark, sf_dir, "documents"))


def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), k=3, threshold=0.5)


def d_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, k=3
    )


def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"), bits=32)


def d_distinct_event_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.dedup import distinct_event_keys

    return distinct_event_keys(_t(spark, sf_dir, "events"))


def d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs -> connected-component cluster ids (the step that
    turns pairwise LSH output into keep-one-per-cluster dedup)."""
    from geist_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    pairs = minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=16, bands=4, k=3
    )
    return dedup_clusters(pairs)


def d_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus dedup end-to-end: minhash pairs -> clusters -> keep the
    min-id doc per cluster, pass unique docs through."""
    from geist_spark.operators.dedup import keep_canonical, minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, k=3)
    return keep_canonical(docs, pairs).select("doc_id")


def p_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed train/val/test assignment, aggregated
    per split (stable across runs/engines/cluster sizes)."""
    from geist_spark.operators.split import hash_split

    return (
        hash_split(_t(spark, sf_dir, "documents"), "doc_id", SPLIT_WEIGHTS)
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            # exact longs -> one IEEE division (engine-identical)
            (F.sum(F.length("text")).cast("double") / F.count(F.lit(1)))
            .alias("avg_len"),
        )
    )


def p_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted md5 sampling: exact, reproducible 10% draw of doc ids."""
    from geist_spark.operators.split import deterministic_sample

    return deterministic_sample(
        _t(spark, sf_dir, "documents"), "doc_id", 0.1, salt="s1"
    ).select("doc_id")


SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
STRATA_FRACTIONS = {"src0": 0.9, "src1": 0.5, "src2": 0.1}


def p_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic downsampling (zero-shuffle md5
    thresholds; unlisted sources kept at 25%)."""
    from geist_spark.operators.split import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        "source",
        STRATA_FRACTIONS,
        default_fraction=0.25,
        salt="strat",
    ).select("doc_id", "source")


# ---------------------------------------------------------------- similarity


def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.similarity import cosine_topk

    return cosine_topk(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


def s_binary_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit sign quantization under the oracle gate: bits packed
    MSB-first into 32-dim words, one row per (vec_id, word) so the
    integer fold is hash-compared value-by-value (no array-typed
    output). The oracle replays the identical acc*2+bit fold."""
    from geist_spark.operators.similarity import binary_quantize

    bq = binary_quantize(_t(spark, sf_dir, "embeddings"))
    return bq.select(
        "vec_id", F.posexplode("bits").alias("word_idx", "word")
    )


def s_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Hamming top-k over sign-quantized embeddings — the
    binary twin of s_cosine_topk (same 10 query ids, k=5): per-word
    bit_count(xor) summed, ties on neighbor_id. The oracle replays
    quantization AND distance in SQL."""
    from geist_spark.operators.similarity import hamming_topk

    return hamming_topk(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5
    )


def s_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.similarity import embedding_near_dup_pairs

    # driver embeddings are near-uniform random (max pairwise cosine
    # ~0.48) so "near-dup" here means the top of that distribution.
    # num_planes is PINNED to the oracle's 4 (the oracle SQL is static
    # per session and cannot adapt to sf); the corpus-adaptive sizing
    # (num_planes=None) is covered by unit tests and s_lsh_tuning.
    return embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3, num_planes=4
    )


def s_incremental_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming embedding-ingest leg as a batch oracle query: a
    STORED hyperplane-bucket index (vec_id % 5 != 0, built by
    similarity.embedding_buckets) is probed by a new ingest batch
    (vec_id % 5 == 0) via incremental_embedding_near_dup — only the
    batch is bucketed, the corpus index is equi-joined on the bucket
    id: O(batch), never O(corpus). Deterministic md5 hyperplanes so
    DuckDB replays the bucket signatures exactly (the semantic twin
    of d_incremental_dedup). num_planes pinned to the static oracle's
    4; threshold 0.3 matches s_embedding_near_dup's calibration for
    the near-uniform driver embeddings."""
    from geist_spark.operators.similarity import (
        embedding_buckets,
        incremental_embedding_near_dup,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    index = embedding_buckets(corpus, num_planes=4)
    return incremental_embedding_near_dup(
        batch, index, threshold=0.3, num_planes=4
    )


def s_cross_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: train-vs-eval embedding near-dup
    (similarity.cross_corpus_leakage). Eval slice = vec_id < 100
    (benchmark-sized, broadcast); train = the rest, scanned map-only."""
    from geist_spark.operators.similarity import cross_corpus_leakage

    emb = _t(spark, sf_dir, "embeddings")
    return cross_corpus_leakage(
        emb.filter(F.col("vec_id") >= 100),
        emb.filter(F.col("vec_id") < 100),
        threshold=0.3,
        num_planes=4,
    )


def s_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.similarity import lsh_bucketed_topk

    return lsh_bucketed_topk(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(10)), k=5, num_planes=4
    )


def s_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.similarity import ivf_topk

    return ivf_topk(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        n_cells=8,
        nprobe=2,
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no native one): for each
    purchase, the user's latest click at or before it. Implemented as
    union + running last_value (one shuffle), NOT a range join."""
    from geist_spark.operators.relational import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    return asof_join(
        left, right, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["click_id", "click_ts"],
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation (hot-key skew guard): exact same
    results as a plain groupBy, but the hot key spreads over 16
    reducers in stage 1. event_type has only 5 values — maximal skew
    for a direct groupBy at scale."""
    from geist_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events")
    out = salted_aggregate(
        ev,
        keys=["event_type"],
        aggs=[
            ("count", "value", "n"),
            ("sum", "value", "sum_value"),
            ("min", "value", "min_value"),
            ("max", "value", "max_value"),
            ("avg", "value", "avg_value"),
        ],
        salt_buckets=16,
    )
    # sum/avg are decimal-exact inside salted_aggregate; min/max are
    # stored values — nothing needs rounding (round() itself differs
    # between engines on identical doubles)
    return out.select(
        "event_type", "n", "sum_value", "min_value", "max_value", "avg_value"
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-immune salted join (operators/skew.py salted_join):
    facts salt randomly, the dim side replicates once per salt bucket,
    join runs on (key, salt) — identical results to the plain join for
    any salt assignment. Revenue per supplier nation; decimal-exact
    sum (engine-identical)."""
    from geist_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    j = salted_join(li, sup, on="l_suppkey", salt_buckets=8)
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
            "decimal(38,6)"
        )
    )
    return j.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_items"),
        rev.cast("double").alias("revenue"),
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles per group (linear interpolation — matches
    DuckDB quantile_cont). At 100 TB use approx_percentile (t-digest)
    — same plan shape, sketch-mergeable."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


# ------------------------------------------------------ analytics dialect


def s_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization (see operators/similarity.py):
    map-only array rewrite, oracle replays identical arithmetic.

    The library operator returns the real array<tinyint>; the driver's
    canonicalizer can only hash scalars, so this wrapper serializes the
    vector to a comma-joined string (deterministic, order-preserving)."""
    from geist_spark.operators.similarity import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("q").cast("array<string>")).alias("q"),
    )


def s_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point Lloyd k-means (operators/similarity.py
    train_ivf_centroids): 2 iterations, k=8, exact long arithmetic
    throughout — assignment is map-only over centroid literals, update
    is one k-row groupBy per iteration. Output (vec_id, cell, sq_dist)
    is all-integer, so the oracle replay is bit-exact by construction."""
    from geist_spark.operators.similarity import train_ivf_centroids

    _, assigned = train_ivf_centroids(
        _t(spark, sf_dir, "embeddings"), k=8, iters=2
    )
    return assigned


def s_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-search: fixed-point k-means centroids plugged into
    ivf_topk (same probe/re-rank plan as s_ann_ivf, real cells instead
    of the first-8-vectors stand-in)."""
    from geist_spark.operators.similarity import (
        FX_SCALE,
        ivf_topk,
        train_ivf_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents, _ = train_ivf_centroids(emb, k=8, iters=2, with_assignments=False)
    cd = [(i, [v / float(FX_SCALE) for v in c]) for i, c in enumerate(cents)]
    return ivf_topk(
        emb, query_ids=list(range(10)), k=5, n_cells=8, nprobe=2, centroids=cd
    )


def s_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/similarity.py semantic_dedup): exact
    fixed-point k-means cells -> within-cell cosine pairs -> connected
    components -> one canonical vector per semantic-dup group.
    threshold=0.4 here so the synthetic corpus (near-orthogonal random
    embeddings) actually forms groups; production uses ~0.95."""
    from geist_spark.operators.similarity import semantic_dedup

    return semantic_dedup(
        _t(spark, sf_dir, "embeddings"), k=8, iters=2, threshold=0.4
    )


def a_spec_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect `aggregate` section (engine extension, SURVEY §2.7):
    extract -> 1-hour tumbling window x event_type -> count/sum/distinct,
    all compiled from the declarative spec."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "winagg",
            "version": 1,
            "description": "windowed agg",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "etype", "jsonPath": "event_type"},
                            {"id": "amount", "jsonPath": "value", "type": "float"},
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "ts", "jsonPath": "ts", "type": "isoTimestamp"},
                        ]
                    }
                ],
                "aggregate": {
                    "window": {"field": "ts", "duration": "1 hour"},
                    "groupBy": ["etype"],
                    "aggregations": [
                        {"fn": "count", "alias": "n"},
                        {"fn": "sum", "field": "amount", "alias": "total"},
                        {"fn": "count_distinct", "field": "uid", "alias": "users"},
                    ],
                },
            },
            "sink": {"type": "void"},
        }
    )
    from geist_spark.compiler.transform import compile_transform

    # _fan: the compiled transform does per-row JSON parsing and the
    # events table is a single parquet split (g_timeconv rationale)
    ev = _fan(_t(spark, sf_dir, "events")).select(
        _pd_barrier(
            F.to_json(
                F.struct(
                    "event_id",
                    "user_id",
                    "event_type",
                    "value",
                    F.date_format(
                        "ts", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
                    ).alias("ts"),
                )
            )
        ).alias("value")
    )
    out = apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )
    # dialect float sums are decimal-exact; no rounding needed
    return out.select(
        F.col("window.start").alias("hour"),
        "etype",
        "n",
        "total",
        "users",
    )


def a_spec_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect SLIDING window (`window.slide`): 1-hour windows
    every 30 minutes — each event lands in 2 windows (epoch-aligned,
    same grid as DuckDB time_bucket, which the oracle unnests)."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "slidewin",
            "version": 1,
            "description": "sliding windowed agg",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "etype", "jsonPath": "event_type"},
                            {"id": "amount", "jsonPath": "value", "type": "float"},
                            {"id": "ts", "jsonPath": "ts", "type": "isoTimestamp"},
                        ]
                    }
                ],
                "aggregate": {
                    "window": {
                        "field": "ts",
                        "duration": "1 hour",
                        "slide": "30 minutes",
                    },
                    "groupBy": ["etype"],
                    "aggregations": [
                        {"fn": "count", "alias": "n"},
                        {"fn": "sum", "field": "amount", "alias": "total"},
                    ],
                },
            },
            "sink": {"type": "void"},
        }
    )
    # _fan: the compiled transform does per-row JSON parsing and the
    # events table is a single parquet split (g_timeconv rationale)
    ev = _fan(_t(spark, sf_dir, "events")).select(
        _pd_barrier(
            F.to_json(
                F.struct(
                    "event_type",
                    "value",
                    F.date_format(
                        "ts", "yyyy-MM-dd'T'HH:mm:ss.SSSXXX"
                    ).alias("ts"),
                )
            )
        ).alias("value")
    )
    out = apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )
    return out.select(
        F.col("window.start").alias("wstart"), "etype", "n", "total"
    )


def a_spec_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect session window (`window.gap`): native
    F.session_window — gap-based sessions per user, streaming-capable,
    state bounded by open sessions (the 100 TB sessionization path)."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "sesswin",
            "version": 1,
            "description": "session window agg",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "amount", "jsonPath": "value", "type": "float"},
                            {"id": "ts", "jsonPath": "ts", "type": "isoTimestamp"},
                        ]
                    }
                ],
                "aggregate": {
                    "window": {"field": "ts", "gap": "30 minutes"},
                    "groupBy": ["uid"],
                    "aggregations": [
                        {"fn": "count", "alias": "n_events"},
                        {"fn": "sum", "field": "amount", "alias": "session_value"},
                    ],
                },
            },
            "sink": {"type": "void"},
        }
    )
    # _fan: the compiled transform does per-row JSON parsing and the
    # events table is a single parquet split (g_timeconv rationale)
    ev = _fan(_t(spark, sf_dir, "events")).select(
        _pd_barrier(
            F.to_json(
                F.struct(
                    "user_id",
                    "value",
                    F.date_format(
                        "ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
                    ).alias("ts"),
                )
            )
        ).alias("value")
    )
    out = apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )
    # dialect float sums are decimal-exact; no rounding needed
    return out.select(
        "uid",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        "session_value",
    )


def a_spec_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect `join` section: stream-static broadcast enrichment
    against the customer dimension, then aggregate per nation."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "join",
            "version": 1,
            "description": "enrichment join",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "amount", "jsonPath": "value", "type": "float"},
                        ]
                    }
                ],
                "join": {
                    "table": {"path": f"{sf_dir}/customer.parquet"},
                    "on": [{"left": "uid", "right": "c_custkey"}],
                    "type": "inner",
                    "broadcast": True,
                    "select": [{"field": "c_nationkey", "alias": "nation"}],
                },
                "aggregate": {
                    "groupBy": ["nation"],
                    "aggregations": [
                        {"fn": "count", "alias": "n"},
                        {"fn": "sum", "field": "amount", "alias": "total"},
                    ],
                },
            },
            "sink": {"type": "void"},
        }
    )
    ev = _events_as_json(spark, sf_dir)
    out = apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )
    return out.select("nation", "n", "total")


def a_spec_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect `join` section with type=anti: keep events whose
    user has NO row in the supplier dim (filter semantics — no right
    columns), then count per event type. Compiles to a broadcast
    left_anti join with the dim pruned to its key column."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "antijoin",
            "version": 1,
            "description": "anti-join filter",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "etype", "jsonPath": "event_type", "type": "string"},
                        ]
                    }
                ],
                "join": {
                    "table": {"path": f"{sf_dir}/supplier.parquet"},
                    "on": [{"left": "uid", "right": "s_suppkey"}],
                    "type": "anti",
                    "broadcast": True,
                },
                "aggregate": {
                    "groupBy": ["etype"],
                    "aggregations": [{"fn": "count", "alias": "n"}],
                },
            },
            "sink": {"type": "void"},
        }
    )
    ev = _events_as_json(spark, sf_dir)
    out = apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )
    return out.select("etype", "n")


def a_spec_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect `sql` escape hatch: arbitrary Spark SQL over the
    transform output (__stream__ binding)."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "sql",
            "version": 1,
            "description": "sql section",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "etype", "jsonPath": "event_type"},
                            {"id": "amount", "jsonPath": "value", "type": "float"},
                        ]
                    }
                ],
                "sql": """
                    SELECT etype, count(*) AS n,
                           CAST(sum(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS total,
                           count(DISTINCT uid) AS users
                    FROM __stream__
                    WHERE amount > 10
                    GROUP BY etype
                """,
            },
            "sink": {"type": "void"},
        }
    )
    ev = _events_as_json(spark, sf_dir, barrier=True)
    return apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )


def a_spec_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect stream-stream join (engine extension): purchases
    joined to the same user's clicks within the preceding hour
    (equality key + event-time bound), then pair counts per user.
    Batch-mode check of the exact condition the streaming path uses."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import join_stream_spec, parse_spec

    sub_transform = {
        "excludeEventsWith": [{"key": "event_type", "valuesNotIn": ["click"]}],
        "extractFields": [
            {
                "fields": [
                    {"id": "ruid", "jsonPath": "user_id", "type": "integer"},
                    {"id": "rts", "jsonPath": "ts", "type": "isoTimestamp"},
                ]
            }
        ],
    }
    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "ssjoin",
            "version": 1,
            "description": "stream-stream join",
            "source": {"type": "geistapi"},
            "transform": {
                "excludeEventsWith": [
                    {"key": "event_type", "valuesNotIn": ["purchase"]}
                ],
                "extractFields": [
                    {
                        "fields": [
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "ts", "jsonPath": "ts", "type": "isoTimestamp"},
                        ]
                    }
                ],
                "join": {
                    "stream": {
                        "source": {
                            "type": "file",
                            "config": {"customConfig": {"path": "/unused"}},
                        },
                        "transform": sub_transform,
                        "watermark": {"field": "rts", "delay": "1 hour"},
                    },
                    "on": [{"left": "uid", "right": "ruid"}],
                    "type": "inner",
                    "timeBound": {
                        "leftField": "ts",
                        "rightField": "rts",
                        "lower": "0 seconds",
                        "upper": "1 hour",
                    },
                    "select": [],
                    "watermark": {"field": "ts", "delay": "1 hour"},
                },
                "aggregate": {
                    "groupBy": ["uid"],
                    "aggregations": [{"fn": "count", "alias": "n_pairs"}],
                },
            },
            "sink": {"type": "void"},
        }
    )
    # _fan: the compiled transform does per-row JSON parsing and the
    # events table is a single parquet split (g_timeconv rationale)
    ev = _fan(_t(spark, sf_dir, "events")).select(
        _pd_barrier(
            F.to_json(
                F.struct(
                    "user_id",
                    "event_type",
                    F.date_format(
                        "ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
                    ).alias("ts"),
                )
            )
        ).alias("value")
    )
    right = compile_transform(join_stream_spec(spec)).apply(ev, value_col="value")
    return apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"),
        spec.transform,
        join_right_df=right,
    )


def a_spec_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect `deduplicate` section: exact dedup on extracted
    keys (streaming variant uses dropDuplicatesWithinWatermark)."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "dedup",
            "version": 1,
            "description": "dedup",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "etype", "jsonPath": "event_type"},
                        ]
                    }
                ],
                "deduplicate": {"fields": ["uid", "etype"]},
            },
            "sink": {"type": "void"},
        }
    )
    ev = _events_as_json(spark, sf_dir)
    out = apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )
    return out.select("uid", "etype")


def p_training_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data prep pipeline: quality filter (token
    count) -> exact dedup (normalized-text hash, keep lowest doc_id)
    -> per-(source, lang) corpus stats. The operators compose as plain
    DataFrame stages — one narrow pass plus the dedup shuffle and the
    final agg."""
    from pyspark.sql import Window

    from geist_spark.operators.dedup import normalize_text
    from geist_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "lang",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("nc"),
        F.md5(normalize_text(F.col("text"))).alias("h"),
    ).filter(F.col("n_tokens") >= 40)
    w = Window.partitionBy("h").orderBy("doc_id")
    deduped = (
        enriched.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "h")
    )
    return deduped.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        # exact longs -> one IEEE division: bit-identical across engines
        # (round(avg(double)) was the round-1 driver-hash mismatch)
        (F.sum("nc").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


# ------------------------------------------------------------ sink parity


def k_max_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-table sink round-trip: BigTable maxVersions GC semantics
    (keep-last-N per row key on readback; reference spec
    test/specs/kafkasrc-bigtablesink-multitable-session.json:117-121).
    Runs the REAL sink: append events, read back keep-last-2."""
    from geist_spark.sinks.keyed_table import (
        INGESTION_TS_COL,
        ROW_KEY_COL,
        KeyedTableLoader,
        new_temp_path,
    )
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "maxversions",
            "version": 1,
            "description": "maxVersions readback",
            "source": {"type": "geistapi"},
            "transform": {"extractFields": [{"fields": [{"id": "x"}]}]},
            "sink": {
                "type": "keyedTable",
                "config": {
                    "customConfig": {
                        "path": new_temp_path(),
                        "rowKeyFields": ["user_id"],
                        "maxVersions": 2,
                    }
                },
            },
        }
    )
    loader = KeyedTableLoader(spark, spec)
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").alias("@GeistIngestionTime"),
    )
    loader.stream_load(ev)
    return loader.extract_all().select(
        F.col(ROW_KEY_COL).alias("row_key"),
        "event_id",
        "event_type",
        F.col(INGESTION_TS_COL).alias("ts"),
    )


def k_merge_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed-table MERGE sink with deleteWhen tombstones under the
    oracle gate: a three-batch synthetic CDC feed over orders keys
    (o_orderkey % 97 == 0) — upsert all, tombstone the even half,
    re-upsert the %4 quarter at a newer ts — merged through the REAL
    sink (key-hash bucket layout, persistent deletion markers,
    keep-newest GC; sinks/keyed_table.py _merge_write), then read
    back. Final state is pure arithmetic on the key, so DuckDB
    replays it with no sink machinery: %4==0 keys live with doubled
    price, %2==0-but-not-%4 keys are deleted (their markers are
    physical but hidden), odd keys keep the original price."""
    from geist_spark.sinks.keyed_table import KeyedTableLoader, new_temp_path
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "mergetomb",
            "version": 1,
            "description": "merge tombstone readback",
            "source": {"type": "geistapi"},
            "transform": {"extractFields": [{"fields": [{"id": "x"}]}]},
            "sink": {
                "type": "keyedTable",
                "config": {
                    "customConfig": {
                        "path": new_temp_path(),
                        "rowKeyFields": ["okey"],
                        "writeMode": "merge",
                        "mergeBuckets": 8,
                        "deleteWhen": "op = 'delete'",
                    }
                },
            },
        }
    )
    loader = KeyedTableLoader(spark, spec)
    keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select(
            F.col("o_orderkey").alias("okey"),
            F.col("o_totalprice").cast("double").alias("price"),
        )
    )

    def ts(s: int) -> F.Column:
        return F.lit(f"2024-01-01 00:00:0{s}").cast("timestamp")

    b1 = keys.select(
        "okey", "price", F.lit("upsert").alias("op"),
        ts(1).alias("@GeistIngestionTime"),
    )
    b2 = keys.filter(F.col("okey") % 2 == 0).select(
        "okey", F.lit(0.0).alias("price"), F.lit("delete").alias("op"),
        ts(2).alias("@GeistIngestionTime"),
    )
    b3 = keys.filter(F.col("okey") % 4 == 0).select(
        "okey", (F.col("price") * 2).alias("price"),
        F.lit("upsert").alias("op"), ts(3).alias("@GeistIngestionTime"),
    )
    for i, b in enumerate([b1, b2, b3]):
        loader.stream_load(b, epoch_id=i)
    return loader.extract_all().select("okey", "price", "op")


def e_eventsim_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eventsim source (reference eventsim.go): one generated tick,
    parsed back through the extract transform. Seeded generation is
    md5-derived per row id (partition-invariant), so the DuckDB oracle
    replays the exact arithmetic: uuid = formatted md5(id|uuid|seed),
    uniform_k = int(md5(id|r|k|seed)[:13], 16) / 2^52."""
    from geist_spark.sources.eventsim import EventSim, parse_sim_config

    sim = EventSim(
        parse_sim_config(
            {
                "eventSpec": {
                    "fields": [
                        {"field": "eventId", "randomizedValue": {"type": "uuid"}},
                        {
                            "field": "berry.type",
                            "predefinedValues": [
                                {"value": "blueberry", "frequencyFactor": 7},
                                {"value": "cloudberry", "frequencyFactor": 3},
                            ],
                        },
                        {
                            "field": "berry.amount",
                            "randomizedValue": {"type": "int", "min": 1, "max": 50},
                        },
                    ]
                }
            }
        ),
        seed=42,
    )
    ct = _compile(
        {
            "extractFields": [
                {
                    "fields": [
                        {"id": "eventId", "jsonPath": "eventId"},
                        {"id": "berry", "jsonPath": "berry.type"},
                        {"id": "amount", "jsonPath": "berry.amount", "type": "integer"},
                    ]
                }
            ]
        }
    )
    return ct.apply(sim.batch(spark, count=10_000))


def u_user_agent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """userAgent scalar transform (ua.go:31-62) over synthetic UA
    strings derived from event_type. Compiled to JVM-native
    regexp/when chains (ua_json_expr — zero Python in the plan; the
    pandas-UDF twin stays property-tested against it); the oracle is a
    3-arm CASE over the golden JSON outputs (pinned in
    tests/test_transform.py), so the driver gate hash-checks the full
    compiled parse."""
    from geist_spark.functions.ua import parse_user_agents

    ev = _t(spark, sf_dir, "events")
    ua = (
        F.when(
            F.col("event_type") == "click",
            F.lit(
                "Mozilla/5.0%20(Windows%20NT%2010.0;%20Win64;%20x64)%20AppleWebKit/537.36%20(KHTML,%20like%20Gecko)%20Chrome/109.0.0.0%20Safari/537.36"
            ),
        )
        .when(
            F.col("event_type") == "view",
            F.lit(
                "Mozilla/5.0%20(iPhone;%20CPU%20iPhone%20OS%2016_3%20like%20Mac%20OS%20X)%20AppleWebKit/605.1.15%20(KHTML,%20like%20Gecko)%20Version/16.3%20Mobile/15E148%20Safari/604.1"
            ),
        )
        .otherwise(F.lit("Googlebot/2.1%20(+http://www.google.com/bot.html)"))
    )
    # dictionary parse (the 100 TB plan): distinct ua values run the
    # regex matrix once each, broadcast-joined back to the rows
    return parse_user_agents(
        ev.select("event_id", ua.alias("ua")), "ua"
    ).select("event_id", "ua_json")


# ---------------------------------------------------------------- text


def t_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.text import quality_features

    return quality_features(_t(spark, sf_dir, "documents"))


def t_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.text import language_id

    return language_id(_t(spark, sf_dir, "documents"))


def t_quality_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-aware quality features (round 5): the stopword ratio
    is computed per ROW against that row's language list
    (text.quality_features(lang_col='lang') / lang_stopword_sets), and
    tokenization is the universal CJK-aware tokenizer — de/fr/es/zh
    rows score their own function words instead of being silently
    mis-scored against the en list."""
    from geist_spark.operators.text import quality_features

    return quality_features(
        _t(spark, sf_dir, "documents"), lang_col="lang"
    )


def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.text import token_stats

    return token_stats(_t(spark, sf_dir, "documents"))


def t_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.text import doc_fingerprint

    return doc_fingerprint(_t(spark, sf_dir, "documents"), gram=8, num_mins=4)


def t_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (operators/text.py):
    duplicate-token / top-bigram / duplicate-trigram fractions per doc.
    Zero-shuffle sorted-array run-length pass; all fractions are exact
    long/long divisions (engine bit-identical)."""
    from geist_spark.operators.text import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------------- corpus prep


def t_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional winnowing (MOSS) fingerprints over documents: every
    selected (pos, hash) pair — k=5 char grams, window=4, rightmost
    min per window. The oracle replays the gram hashing, per-window
    list_min, and rightmost-tie position arithmetic in pure SQL."""
    from geist_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(
        _t(spark, sf_dir, "documents"), k=5, window=4
    )


def t_winnow_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing overlap candidates: docs sharing >= 3 fingerprint
    hashes after the stop-fingerprint cap — the hash-grain join shape
    (never all-pairs). The corpus plants duplicate texts by design,
    so the pair set is non-trivial. max_hash_docs=16: the synthetic
    corpus is heavily templated, and near-cap hot hashes dominate the
    join cost quadratically (measured 34s -> ~8s at sf0.1 vs cap 64)
    — boilerplate hashes carry no overlap signal anyway."""
    from geist_spark.operators.text import winnow_overlap_pairs

    return winnow_overlap_pairs(
        _t(spark, sf_dir, "documents"),
        k=5,
        window=4,
        min_shared=3,
        max_hash_docs=16,
    )


def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/prep.py): eval set =
    docs with doc_id % 97 == 0; flag corpus docs sharing any 5-token
    shingle. Eval shingle set broadcasts; corpus never shuffles."""
    from geist_spark.operators.prep import decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return decontaminate(docs, eval_docs, k=5)


def t_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (operators/prep.py
    bloom_decontaminate): constant-size (128 KiB) filter image probed
    map-side instead of broadcasting the raw eval shingle set; exact
    confirm join removes false positives. The oracle replays the md5
    bit-position arithmetic, so the bloom candidate count itself is
    hash-checked, not just the final exact flags."""
    from geist_spark.operators.prep import bloom_decontaminate

    docs = _t(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    return bloom_decontaminate(
        docs, eval_docs, k=5, m_bits=1 << 20, num_hashes=4
    )


def p_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing into 2048-token bins per source
    (operators/prep.py): one shuffle + partition-local window."""
    from geist_spark.operators.prep import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), budget_tokens=2048
    )


def p_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (operators/prep.py):
    32-token chunks, stride 24 (8-token overlap) — map-only explode."""
    from geist_spark.operators.prep import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


def p_rag_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG corpus build as ONE lazy plan: overlapping-chunk explode ->
    exact chunk dedup (min (doc_id, chunk_idx) survives per distinct
    normalized chunk) -> per-source retrieval-unit stats. Three
    operators, one Catalyst plan, one shuffle per stage."""
    from geist_spark.operators.dedup import normalize_text
    from geist_spark.operators.prep import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, stride=24)
    w = Window.partitionBy(F.md5(normalize_text(F.col("chunk_text")))).orderBy(
        "doc_id", "chunk_idx"
    )
    uniq = (
        chunks.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    joined = uniq.join(docs.select("doc_id", "source"), "doc_id")
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_tokens").alias("total_tokens"),
    )


def p_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship composed corpus pipeline — four gates, each an existing
    operator, chained as ONE lazy Catalyst plan:

      quality (Gopher repetition + min length)
        -> exact dedup (canonical doc per content hash)
        -> benchmark decontamination (5-shingle overlap vs eval set)
        -> per-source quota (deterministic md5 draw)
        -> per-source corpus stats (exact long counts)

    This is the shape a real pretraining-data job takes; every gate's
    arithmetic is engine-exact so the whole composition hash-matches
    the DuckDB replay."""
    from pyspark.sql import Window

    from geist_spark.operators.dedup import normalize_text, tokens
    from geist_spark.operators.prep import decontaminate, source_quota
    from geist_spark.operators.text import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    rep = repetition_stats(docs)
    ok = rep.filter(
        (F.col("n_tokens") >= 20) & (F.col("dup_token_frac") <= 0.96)
    ).select("doc_id")
    gated = docs.join(ok, "doc_id")

    w = Window.partitionBy(F.md5(normalize_text(F.col("text")))).orderBy(
        F.col("doc_id")
    )
    deduped = (
        gated.withColumn("__rn", F.row_number().over(w))
        .filter("__rn = 1")
        .drop("__rn")
        # consumed THREE times downstream (decontaminate reads it for
        # the shingle side and the doc_id join-back, then the clean
        # join reads it again) — materialize once or the window dedup
        # and the repetition-stats tokenize of the whole corpus run 3x
        .localCheckpoint(eager=True)
    )

    eval_docs = docs.filter(F.col("doc_id") % 97 == 0)
    flags = decontaminate(deduped, eval_docs, k=5)
    clean = deduped.join(
        flags.filter(~F.col("contaminated")).select("doc_id"), "doc_id"
    )

    capped = source_quota(clean, 40, salt="cp")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("total_tokens"),
    )


def t_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (operators/prep.py) over documents with synthetic
    PII injected deterministically from doc_id (the corpus text itself
    is PII-free), so the scrub provably strips known quantities."""
    from geist_spark.operators.prep import redact_pii

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com from 10.20.30."),
            (F.col("doc_id") % 250).cast("string"),
            F.lit(" call +1 555-01"),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("-2345"),
        ).alias("text"),
    )
    out = redact_pii(docs)
    # hash the (long) redacted text so the driver compares a scalar
    return out.select(
        "doc_id",
        F.md5("redacted_text").alias("redacted_md5"),
        "n_emails",
        "n_ips",
        "n_phones",
    )


def t_card_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated payment-card scrub (operators/prep.py
    credit_card_scrub) with synthetic cards injected per doc_id —
    even ids get a Luhn-VALID test PAN, odd ids a 16-digit run that
    fails the checksum, so the oracle proves the validator both
    redacts real cards and leaves checksum-failing digit runs alone."""
    from geist_spark.operators.prep import credit_card_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.lit(" card 4539 1488 0343 6467 on file"),
            ).otherwise(F.lit(" card 1234 5678 1234 5678 on file")),
        ).alias("text"),
    )
    out = credit_card_scrub(docs)
    return out.select(
        "doc_id",
        "n_candidates",
        "n_valid_cards",
        F.md5("redacted_text").alias("redacted_md5"),
    )


def p_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (operators/prep.py): keep <= 15 docs per
    source by deterministic md5 order (binds at every SF: sources have
    >= 25 docs at sf0.01)."""
    from geist_spark.operators.prep import source_quota

    return source_quota(
        _t(spark, sf_dir, "documents"), cap_per_source=15, salt="q1"
    ).select("doc_id", "source")


# ---------------------------------------------------------------- multimodal


def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (decode stubbed, see
    operators/multimodal.py): deterministic frame fan-out per media
    row, aggregated per media id so the oracle checks the exact
    explode arithmetic."""
    from geist_spark.operators.multimodal import (
        documents_as_media,
        frame_sample_stub,
    )

    frames = frame_sample_stub(
        documents_as_media(_t(spark, sf_dir, "documents")), every_ms=1000
    )
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.sum("frame_idx").alias("idx_sum"),
    )


def m_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing (operators/multimodal.py resize_stub):
    Arrow mapInPandas emits a deterministic (width*height)-byte fake
    payload whose first 16 bytes are md5(source payload) — so the
    oracle checks the batch arithmetic exactly via the payload head
    and length, no blob shipping."""
    from geist_spark.operators.multimodal import (
        documents_as_media,
        resize_stub,
    )

    resized = resize_stub(
        documents_as_media(_t(spark, sf_dir, "documents")), width=224, height=224
    )
    return resized.select(
        "media_id",
        "width",
        "height",
        F.length("payload").cast("int").alias("out_len"),
        F.lower(F.hex(F.substring(F.col("payload"), 1, 16))).alias("head_hex"),
    )


def m_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from geist_spark.operators.multimodal import (
        documents_as_media,
        extract_media_features,
    )

    feats = extract_media_features(
        documents_as_media(_t(spark, sf_dir, "documents"))
    )
    return feats.select("media_id", "byte_len", "content_md5")


def _fan(df: "DataFrame") -> "DataFrame":
    """Widen a skinny (single-split parquet) input BEFORE a
    CPU-heavy Arrow synth/decode stage — without this every real
    decode gate serializes its 5000 per-doc decodes on ONE core
    (measured: m_decode_jpeg 4.7s -> sub-second at 32 partitions).
    No-op on healthy wide scans (bucketing.fan_out)."""
    from geist_spark.operators.bucketing import fan_out

    return fan_out(df)


def _md5_payload_bytes() -> "F.Column":
    """The shared 24-byte deterministic payload for the real-decode
    gate queries: md5(text) + first 8 bytes of md5(text || 'x'). MUST
    stay byte-identical with the oracle-side hex CTE
    (_MD5_BYTES_CTE_SQL) — both decode gates hash against it."""
    return F.unhex(
        F.concat(
            F.md5(F.col("text")),
            F.substring(F.md5(F.concat(F.col("text"), F.lit("x"))), 1, 16),
        )
    )


def _synth_ppm_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ONE synthesized 4x2 P6 media frame shared by m_decode_real
    and m_resize_real — header + _md5_payload_bytes pixels; both
    gates and both oracle CTEs must see the identical payload."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.concat(F.lit(b"P6\n4 2\n255\n"), _md5_payload_bytes())
    return docs.select(
        F.col("doc_id").alias("media_id"), payload.alias("payload")
    )


# oracle twin of _md5_payload_bytes: hex digests -> 24 ints (1-based)
_MD5_BYTES_CTE_SQL = """
            h AS (
                SELECT doc_id,
                       md5(text) || substr(md5(text || 'x'), 1, 16) AS hx
                FROM documents
            ), b AS (
                SELECT doc_id,
                       [16*(strpos('0123456789abcdef', substr(hx, 2*i-1, 1))-1)
                        + (strpos('0123456789abcdef', substr(hx, 2*i, 1))-1)
                        for i in generate_series(1, 24)] AS bytes
                FROM h
            )"""


def m_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the oracle gate: synthesize a 4x2 P6
    PPM per document (pixel bytes = md5-derived, 24 bytes), run the
    pure-python decode_real (actual header tokenization + pixel
    extraction, multimodal.py), and emit the exact integer BT.601
    luma. The oracle recomputes the luma ARITHMETICALLY from the same
    hex digests without any image parsing — a header-offset or
    channel-order bug in the decoder hash-mismatches. pixel_md5 is
    projected out (DuckDB md5 takes VARCHAR only, cannot hash raw
    bytes)."""
    from geist_spark.operators.multimodal import decode_real

    return decode_real(_synth_ppm_media(spark, sf_dir)).select(
        "media_id", "format", "width", "height", "channels", "mean_luma_fx"
    )


def m_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize under the oracle gate: the same synthesized 4x2 P6
    PPM as m_decode_real, nearest-neighbor-resampled to 2x1 by
    multimodal.resize_real (actual pixel resampling, integer index
    map src = dst*src_dim // dst_dim). The oracle picks the mapped
    source pixels (columns 0 and 2 of row 0 = digest bytes 1-3 and
    7-9, PPM is RGB order) and recomputes the resized luma
    arithmetically — a wrong index map or channel order
    hash-mismatches."""
    from geist_spark.operators.multimodal import resize_real

    return resize_real(_synth_ppm_media(spark, sf_dir), 2, 1).select(
        "media_id", "format", "width", "height", "channels", "mean_luma_fx"
    )


def m_frame_sample_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame extraction under the oracle gate: synthesize a
    2-frame 2x1 raw-DIB AVI per document (frame pixels = the first 12
    md5 bytes, 6 per frame in DIB BGR order), run the pure-python RIFF
    walk + frame normalization (multimodal.frame_sample_real), and
    emit per-frame exact luma + timestamps. The oracle reconstructs
    both frames' luma ARITHMETICALLY from the digest byte positions
    (including the BGR->RGB mapping) with no container parsing — a
    chunk-walk or row-order bug hash-mismatches. pixel_md5 projected
    out (DuckDB cannot md5 raw bytes)."""
    import struct

    from geist_spark.operators.multimodal import frame_sample_real

    docs = _t(spark, sf_dir, "documents")
    avih = struct.pack(
        "<IIIIIIIIIIIIII", 40000, 0, 0, 0, 2, 0, 1, 0, 2, 1, 0, 0, 0, 0
    )
    strh = b"strh" + struct.pack("<I", 56) + b"vids" + b"DIB " + b"\x00" * 48
    strf = b"strf" + struct.pack("<I", 40) + struct.pack(
        "<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, 0, 0, 0, 0, 0
    )
    strl = (
        b"LIST" + struct.pack("<I", 4 + len(strh) + len(strf))
        + b"strl" + strh + strf
    )
    hdrl_body = (
        b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih + strl
    )
    hdrl = b"LIST" + struct.pack("<I", len(hdrl_body)) + hdrl_body
    movi_len = 4 + 2 * (8 + 8)  # 'movi' + two 8-byte '00db' chunks
    prefix = (
        b"RIFF"
        + struct.pack("<I", 4 + len(hdrl) + 8 + movi_len)
        + b"AVI " + hdrl
        + b"LIST" + struct.pack("<I", movi_len) + b"movi"
        + b"00db" + struct.pack("<I", 8)
    )
    mid = b"\x00\x00" + b"00db" + struct.pack("<I", 8)
    hx = F.md5(F.col("text"))
    payload = F.concat(
        F.lit(prefix),
        F.unhex(F.substring(hx, 1, 12)),
        F.lit(mid),
        F.unhex(F.substring(hx, 13, 12)),
        F.lit(b"\x00\x00"),
    )
    media = _fan(
        docs.select(
            F.col("doc_id").alias("media_id"), payload.alias("payload")
        )
    )
    return frame_sample_real(media, every_ms=40).select(
        "media_id", "frame_idx", "ts_ms", "width", "height", "mean_luma_fx"
    )


def m_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the oracle gate: synthesize a 12-sample
    16-bit PCM WAV per document (sample bytes = the same md5-derived
    24 bytes as m_decode_real), run the pure-python RIFF chunk walk +
    sample parse (multimodal.decode_audio_real), and emit exact
    integer peak / floor-mean-square. The oracle reassembles the
    little-endian signed samples ARITHMETICALLY from the hex digests
    (lo + 256*hi, two's complement) with no WAV parsing — a chunk-
    offset or endianness bug in the decoder hash-mismatches."""
    import struct

    from geist_spark.operators.multimodal import decode_audio_real

    docs = _t(spark, sf_dir, "documents")
    header = (
        b"RIFF" + struct.pack("<I", 36 + 24) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 24)
    )
    payload = F.concat(F.lit(header), _md5_payload_bytes())
    media = _fan(
        docs.select(
            F.col("doc_id").alias("media_id"), payload.alias("payload")
        )
    )
    return decode_audio_real(media).select(
        "media_id", "format", "n_channels", "sample_rate", "bit_depth",
        "n_frames", "duration_ms", "peak_abs", "mean_square_fx",
    )


def m_decode_wav_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-sample WAV decode under the oracle gate (round 8):
    doc_id % 3 rotates 24-bit PCM (the 24 md5 bytes as 8 3-byte LE
    samples), 32-bit PCM wrapped in WAVE_FORMAT_EXTENSIBLE (6
    4-byte samples — the 0xFFFE SubFormat unwrap runs under the
    gate), and IEEE float32 (24 samples (b-128)/256 — dyadic, so
    trunc(x*2^15) = (b-128)*128 exactly). The oracle reassembles
    samples arithmetically (two's complement at 2^23/2^31, the
    float mapping as integer multiplication) and replays exact
    peak / floor-mean-square — the hi/lo-decomposed wide-sample
    sum-of-squares path hash-mismatches on any error."""
    import struct as _struct

    import pandas as _pd

    from geist_spark.operators.multimodal import decode_audio_real

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def wav(fmt, bits, data, ext=False):
        if ext:
            body = _struct.pack(
                "<HHIIHH", 0xFFFE, 1, 8000, 8000 * bits // 8,
                bits // 8, bits,
            )
            body += _struct.pack("<HHI", 22, bits, 1)
            body += _struct.pack("<H", fmt) + b"\x00\x00" + bytes(12)
        else:
            body = _struct.pack(
                "<HHIIHH", fmt, 1, 8000, 8000 * bits // 8,
                bits // 8, bits,
            )
        return (
            b"RIFF" + _struct.pack("<I", 20 + len(body) + len(data))
            + b"WAVE" + b"fmt " + _struct.pack("<I", len(body)) + body
            + b"data" + _struct.pack("<I", len(data)) + data
        )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for mid, pxv in zip(pdf["media_id"], pdf["px"]):
                px = bytes(pxv)
                v = mid % 3
                if v == 0:
                    p = wav(1, 24, px)
                elif v == 1:
                    p = wav(1, 32, px, ext=True)
                else:
                    data = b"".join(
                        _struct.pack("<f", (b - 128) / 256.0)
                        for b in px
                    )
                    p = wav(3, 32, data)
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_audio_real(media).select(
        "media_id", "format", "n_channels", "bit_depth", "n_frames",
        "peak_abs", "mean_square_fx",
    )


def m_decode_flac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL FLAC frame decode under the oracle gate (operators/
    flac.py via decode_audio_real): the shared 24 md5 bytes become,
    by doc_id % 4 — (0) stereo 16-bit L + reversed-L through
    MID/SIDE with fixed-order-2 Rice residuals, (1) the same PCM
    through LEFT/SIDE with fixed-order-1 and the 5-bit Rice method,
    (2) a 96-sample mono CONSTANT subframe at (doc_id%251)-125, (3)
    stereo 24-bit samples (3-byte groups, the wav-wide formula)
    through RIGHT/SIDE with raw-escape residual partitions. R being
    a permutation of L makes peak/mean-square pure functions of L,
    so the oracle reassembles samples arithmetically from the hex
    digests with NO FLAC parsing — any predictor, Rice, stereo-
    reconstruction, CRC, or wasted-bit bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.flac import encode as _flac_encode
    from geist_spark.operators.multimodal import decode_audio_real

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for mid, pxv in zip(pdf["media_id"], pdf["px"]):
                px = bytes(pxv)
                v = mid % 4
                if v in (0, 1):
                    ls = [
                        int.from_bytes(px[2 * i : 2 * i + 2], "little",
                                       signed=True)
                        for i in range(8)
                    ]
                    rs = ls[::-1]
                    if v == 0:
                        p = _flac_encode(
                            [ls, rs], stereo="mid_side",
                            subframe="fixed2",
                        )
                    else:
                        p = _flac_encode(
                            [ls, rs], stereo="left_side",
                            subframe="fixed1", method=1,
                        )
                elif v == 2:
                    val = (mid % 251) - 125
                    p = _flac_encode(
                        [[val] * 96], subframe="constant"
                    )
                else:
                    ls = [
                        int.from_bytes(px[3 * i : 3 * i + 3], "little",
                                       signed=True)
                        for i in range(8)
                    ]
                    rs = ls[::-1]
                    p = _flac_encode(
                        [ls, rs], bps=24, stereo="right_side",
                        subframe="fixed0", escape_raw=True,
                    )
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_audio_real(media).select(
        "media_id", "format", "n_channels", "bit_depth", "n_frames",
        "peak_abs", "mean_square_fx",
    )


def m_decode_aiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIFF/AIFC decode under the oracle gate (multimodal
    _aiff_decode_samples via decode_audio_real): the shared 24 md5
    bytes become, by doc_id % 3 — (0) 6 stereo frames of BIG-endian
    16-bit AIFF (the byte-order trap vs WAV), (1) the same bytes as
    AIFC 'sowt' (little-endian 16-bit — the compression-code unwrap
    runs), (2) 8 mono 24-bit big-endian samples. The 80-bit extended
    -float sample rate field is parsed exactly on every variant. The
    oracle reassembles samples arithmetically per endianness — a
    byte-order, COMM-layout, ext80, or sowt bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import (
        aiff_build,
        decode_audio_real,
    )

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for mid, pxv in zip(pdf["media_id"], pdf["px"]):
                px = bytes(pxv)
                v = mid % 3
                if v == 0:
                    smp = [
                        int.from_bytes(px[2 * i : 2 * i + 2], "big",
                                       signed=True)
                        for i in range(12)
                    ]
                    p = aiff_build(smp, 2, 44100, 16)
                elif v == 1:
                    smp = [
                        int.from_bytes(px[2 * i : 2 * i + 2], "little",
                                       signed=True)
                        for i in range(12)
                    ]
                    p = aiff_build(smp, 2, 22050, 16, sowt=True)
                else:
                    smp = [
                        int.from_bytes(px[3 * i : 3 * i + 3], "big",
                                       signed=True)
                        for i in range(8)
                    ]
                    p = aiff_build(smp, 1, 8000, 24)
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_audio_real(media).select(
        "media_id", "format", "n_channels", "bit_depth", "n_frames",
        "peak_abs", "mean_square_fx",
    )


def m_mkv_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matroska/WebM metadata probe under the oracle gate
    (multimodal.mkv_probe — the EBML walk): doc_id % 3 rotates a
    WebM with video+audio tracks (dims from doc_id, a non-default
    2ms TimecodeScale so the ns conversion runs), a matroska
    audio-only file, and a WebM video-only file with a 1-byte-varint
    duration scale. The oracle reassembles every field
    arithmetically from doc_id — a varint-length, marker-bit,
    timecode-scale, or container-descent bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import mkv_build, mkv_probe

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                v = did % 3
                if v == 0:
                    p = mkv_build(
                        "webm",
                        duration_units=float(did % 1000 + 10),
                        timecode_scale=2_000_000,
                        tracks=(
                            ("video", 320 + did % 64, 240),
                            ("audio", 48000, 2),
                        ),
                    )
                elif v == 1:
                    p = mkv_build(
                        "matroska",
                        duration_units=float(did % 500) * 1000.0,
                        timecode_scale=1_000_000,
                        tracks=(("audio", 44100, 1),),
                    )
                else:
                    p = mkv_build(
                        "webm",
                        duration_units=float(did % 100 + 1),
                        timecode_scale=1_000_000_000,
                        tracks=(("video", 1280, 720),),
                    )
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(
        docs.select(F.col("doc_id"))
    ).mapInPandas(synth, "media_id long, payload binary")
    return mkv_probe(media)


def m_decode_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL G.711 companded-audio decode under the oracle gate: the
    same 24 md5-derived bytes as m_decode_audio, but written as 8-bit
    COMPANDED codes — µ-law (WAV format 7) for even doc_ids, A-law
    (format 6) for odd — and expanded to 16-bit linear by
    multimodal._wav_samples' exact-integer LUTs (ITU-T G.711). The
    oracle replays the expansion formulas ARITHMETICALLY in SQL
    (complement/xor-0x55, segment shift, sign) with no WAV parsing —
    any LUT, sign-convention, or segment-boundary bug
    hash-mismatches on peak/mean-square."""
    import struct

    from geist_spark.operators.multimodal import decode_audio_real

    docs = _t(spark, sf_dir, "documents")

    def header(code: int) -> bytes:
        return (
            b"RIFF" + struct.pack("<I", 36 + 24) + b"WAVE"
            + b"fmt "
            + struct.pack("<IHHIIHH", 16, code, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", 24)
        )

    payload = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit(header(7)))
        .otherwise(F.lit(header(6))),
        _md5_payload_bytes(),
    )
    media = _fan(
        docs.select(
            F.col("doc_id").alias("media_id"), payload.alias("payload")
        )
    )
    return decode_audio_real(media).select(
        "media_id", "format", "n_channels", "sample_rate", "bit_depth",
        "n_frames", "duration_ms", "peak_abs", "mean_square_fx",
    )


def m_decode_adpcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL IMA ADPCM decode under the oracle gate: per document one
    mono ADPCM block built from the 24 md5 bytes — predictor int16
    from bytes 1-2, step index byte 3 % 89, 21 code bytes = 42
    nibbles (low first) -> 43 samples — decoded by
    multimodal._ima_adpcm_decode_mono (the sequential IMA state
    machine, verified bit-exact against CPython's audioop). The
    oracle replays the ENTIRE state machine in SQL with a struct
    list_reduce over the nibbles (step-table lookup, bit-weighted
    diff, +-32768 clamp, index clamp) — a single wrong table entry,
    clamp, or nibble order hash-mismatches peak/mean-square."""
    import struct

    import pandas as _pd

    from geist_spark.operators.multimodal import decode_audio_real

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for px in pdf["px"]:
                bs = bytes(px)
                (pred0,) = struct.unpack("<h", bs[:2])
                block = struct.pack("<hBB", pred0, bs[2] % 89, 0) + bs[3:24]
                payloads.append(
                    b"RIFF" + struct.pack("<I", 36 + len(block)) + b"WAVE"
                    + b"fmt "
                    + struct.pack(
                        "<IHHIIHH", 16, 0x11, 1, 8000, 4000, len(block), 4
                    )
                    + b"data" + struct.pack("<I", len(block)) + block
                )
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_audio_real(media).select(
        "media_id", "format", "n_channels", "sample_rate", "bit_depth",
        "n_frames", "duration_ms", "peak_abs", "mean_square_fx",
    )


def m_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG decode under the oracle gate: the same 4x2 RGB pixels
    as m_decode_real (24 md5-derived bytes) encoded per document into
    one of TEN PNG shapes by doc_id % 10 — plain 8-bit RGB with
    Sub/Paeth filters, Adam7-interlaced RGB, RGBA with a fixed alpha
    ramp (composited onto white with exact integer rounding), 16-bit
    RGB (high-byte reduction), gray+tRNS (pixel-0's level is the
    transparent color), palette+tRNS (the SAME alpha ramp through the
    palette home), gray+alpha (ctype 4), 16-bit gray, 4-bit gray
    (MSB-first packed rows, exact 17x upscale), and 2-bit palette
    (packed indexes) — then
    decoded by multimodal.decode_real (stdlib zlib + numpy scanline
    unfiltering + the round-8 alpha/16-bit paths). PNG synthesis
    needs Python zlib, so it runs as a first Arrow-batched
    mapInPandas stage; the oracle recomputes every variant's luma
    ARITHMETICALLY from the md5 hex digests (the composite formula
    (c*a + 255*(255-a) + 127) // 255 is SQL-exact) with no PNG
    parsing oracle-side — a chunk-walk, inflate-size, unfilter,
    deinterlace, 16-bit-reduction, tRNS-match, or composite bug
    hash-mismatches."""
    import struct as _struct

    import pandas as _pd

    from geist_spark.operators.multimodal import decode_real, png_encode

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )
    # 4x2 Adam7 pass scanlines: p1 1, p4 1, p6 1, p7 1 -> filters
    # indexed per pass scanline; Sub/Up/Paeth/None across them
    i7_filters = [1, 4, 2, 0]
    # fixed alpha ramp shared by the RGBA / palette-tRNS / gray+alpha
    # variants — a literal on BOTH sides of the gate
    alphas = [255, 0, 128, 255, 0, 128, 255, 64]

    def synth(batches):
        for pdf in batches:
            payloads = []
            for mid, pxv in zip(pdf["media_id"], pdf["px"]):
                px = bytes(pxv)
                grays = bytes(px[3 * i] for i in range(8))
                v = mid % 10
                if v == 0:
                    p = png_encode(4, 2, px, ctype=2, filters=[1, 4])
                elif v == 1:
                    p = png_encode(4, 2, px, ctype=2,
                                   filters=i7_filters, interlace=True)
                elif v == 2:
                    raw = b"".join(
                        px[3 * i: 3 * i + 3] + bytes([alphas[i]])
                        for i in range(8)
                    )
                    p = png_encode(4, 2, raw, ctype=6, filters=[2, 1])
                elif v == 3:
                    raw = b"".join(bytes([c, c ^ 0xFF]) for c in px)
                    p = png_encode(4, 2, raw, ctype=2, depth=16,
                                   filters=[1, 3])
                elif v == 4:
                    p = png_encode(
                        4, 2, grays, ctype=0,
                        trns=_struct.pack(">H", grays[0]),
                        filters=[4, 2],
                    )
                elif v == 5:
                    p = png_encode(4, 2, bytes(range(8)), ctype=3,
                                   palette=px, trns=bytes(alphas))
                elif v == 6:
                    raw = b"".join(
                        bytes([grays[i], alphas[i]]) for i in range(8)
                    )
                    p = png_encode(4, 2, raw, ctype=4, filters=[4, 2])
                elif v == 7:
                    raw = b"".join(bytes([g, g ^ 0xAA]) for g in grays)
                    p = png_encode(4, 2, raw, ctype=0, depth=16)
                elif v == 8:
                    raw = bytes(g >> 4 for g in grays)
                    p = png_encode(4, 2, raw, ctype=0, depth=4,
                                   filters=[2, 1])
                else:
                    raw = bytes(g % 4 for g in grays)
                    p = png_encode(4, 2, raw, ctype=3, depth=2,
                                   palette=px[:12])
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_real(media).select(
        "media_id", "format", "width", "height", "channels", "mean_luma_fx"
    )



def m_decode_webp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP VP8L lossless decode under the oracle gate: the same
    24 md5-derived pixel bytes as m_decode_real/png laid out 4x2,
    encoded per document into one of EIGHT VP8L bitstream shapes by
    doc_id % 8 — plain literals, subtract-green transform, RGBA with
    the fixed alpha ramp (composited over white, channels=4), the
    color-indexing transform (palette + pixel bundling), LZ77
    backward references (row 1 duplicates row 0, vertical-run copy
    through the distance-map head), a 4-bit color cache, a
    doc-dependent predictor transform (mode doc_id % 14), and the
    predictor+color+subtract-green combination — then decoded by
    multimodal.decode_real through the vp8l.py reader (prefix codes
    incl. code-length RLE, LZ77, cache, all four transforms). The
    oracle recomputes every variant's luma ARITHMETICALLY from the
    md5 hex digests with no WebP parsing oracle-side — an entropy,
    transform-inverse, bundling, distance-map, or composite bug
    hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import decode_real
    from geist_spark.operators.vp8l import vp8l_encode

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )
    alphas = [255, 0, 128, 255, 0, 128, 255, 64]

    def synth(batches):
        for pdf in batches:
            payloads = []
            for mid, pxv in zip(pdf["media_id"], pdf["px"]):
                px = bytes(pxv)
                v = mid % 8
                if v == 2:
                    rgba = b"".join(
                        px[3 * i: 3 * i + 3] + bytes([alphas[i]])
                        for i in range(8)
                    )
                elif v == 4:
                    row = b"".join(
                        px[3 * i: 3 * i + 3] + b"\xff"
                        for i in range(4)
                    )
                    rgba = row + row
                else:
                    rgba = b"".join(
                        px[3 * i: 3 * i + 3] + b"\xff"
                        for i in range(8)
                    )
                kw = (
                    {} if v == 0
                    else {"subtract_green": True} if v == 1
                    else {} if v == 2
                    else {"palette": True} if v == 3
                    else {"use_lz77": True} if v == 4
                    else {"cache_bits": 4} if v == 5
                    else {"predictor": int(mid % 14)} if v == 6
                    else {"predictor": 12,
                          "color_transform": (-9, 30, -3),
                          "subtract_green": True}
                )
                payloads.append(vp8l_encode(4, 2, rgba, **kw))
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return decode_real(media).select(
        "media_id", "format", "width", "height", "channels",
        "mean_luma_fx"
    )


def w_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate-strip under the oracle gate: each document's
    text is entity-escaped and wrapped in a deterministic page
    template (title, style, script-with-tag-noise, nav with 2
    anchors, comment), then web.html_extract runs its all-JVM
    regexp pipeline. The oracle does NO HTML processing — it
    constructs the EXPECTED output analytically (title = 'Doc ' ||
    id, text = 'home about Doc ' || id || ' ' || ws-collapsed
    original text, 2 anchors), so a script-strip, tag-strip,
    entity-decode or whitespace bug hash-mismatches. Escape+decode
    round-trip exactness is what makes the analytic form valid (the
    '&amp;-last' decode order)."""
    from geist_spark.operators.web import html_extract

    docs = _t(spark, sf_dir, "documents")
    esc = F.col("text")
    for ch, ent in (("&", "&amp;"), ("<", "&lt;"), (">", "&gt;")):
        esc = F.replace(esc, F.lit(ch), F.lit(ent))
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id"),
        F.lit("</title><style>p { color: red }</style>"
              "<script>var x = \"<p>not text</p>\";</script></head>"
              "<body><nav><a href=\"/\">home</a> "
              "<a href=\"/about\">about</a></nav><h1>Doc "),
        F.col("doc_id"),
        F.lit("</h1><p>"),
        esc,
        F.lit("</p><!-- hidden comment --></body></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"))
    return html_extract(pages)


def m_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual dhash under the oracle gate: the shared 4x2 P6
    synthetic frame hashed at hash_w=3, hash_h=2 — the resize target
    (4x2) equals the source so the gate pins the COMPARISON/PACKING
    arithmetic exactly (resize index math is pinned by m_resize_real).
    The oracle recomputes the 6 bits from the md5-derived per-pixel
    integer lumas (299R+587G+114B, strict >, row-major MSB-first)
    with no image processing oracle-side."""
    from geist_spark.operators.multimodal import image_dhash

    return image_dhash(_synth_ppm_media(spark, sf_dir), 3, 2).select(
        "media_id", "format", "dhash"
    )


def m_dhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded perceptual near-dup under the oracle gate: each doc
    yields TWO 9x8 grayscale P5 images CONSTRUCTED so their dhashes
    are exactly the first 64 md5 bits and that value with bit
    (doc_id % 64) flipped — per-row right-to-left gray ramps encode
    each comparison bit (g[c] = g[c+1] + bit). image_dhash (8x8,
    identity resize) recovers the hashes; dhash_near_dup (4 bands,
    max_hamming=2) must return EXACTLY the within-doc twin pairs at
    hamming 1 — cross-doc hashes are independent 64-bit values, so a
    radius-2 collision among 10k media has probability ~1e-8. The
    oracle is analytic: (2*doc_id, 2*doc_id+1, 1)."""
    import hashlib as _hl

    import pandas as _pd

    from geist_spark.operators.multimodal import dhash_near_dup, image_dhash

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        header = b"P5 9 8 255\n"

        def img(h64: int) -> bytes:
            px = bytearray()
            for r in range(8):
                g = [128] * 9
                for c in reversed(range(8)):
                    g[c] = g[c + 1] + ((h64 >> (63 - (r * 8 + c))) & 1)
                px += bytes(g)
            return header + bytes(px)

        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                # hash from the UNIQUE doc_id, not the text: the
                # documents corpus deliberately contains duplicate
                # texts (it is a dedup fixture), which would plant
                # unintended cross-doc hamming-0 pairs
                h = int.from_bytes(
                    _hl.md5(str(int(did)).encode("utf-8")).digest()[:8],
                    "big",
                )
                twin = h ^ (1 << (63 - (int(did) % 64)))
                ids += [2 * int(did), 2 * int(did) + 1]
                payloads += [img(h), img(twin)]
            yield _pd.DataFrame({"media_id": ids, "payload": payloads})

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    pairs = dhash_near_dup(image_dhash(media, 8, 8), max_hamming=2, bands=4)
    return pairs.select(
        "media_id_a", "media_id_b", F.col("hamming").cast("int").alias("hamming")
    )


def m_decode_tiff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL TIFF decode under the oracle gate: the same 24 md5-derived
    pixel bytes as m_decode_real (4x2 RGB) encoded per document as a
    BIG-ENDIAN (MM) uncompressed TIFF split into 2 row-strips — so
    the byte-order handling AND the strip walk run for real — then
    decoded by multimodal.decode_real (_tiff_decode: IFD tag walk,
    strip concat). The oracle recomputes the luma ARITHMETICALLY from
    the hex digests with no TIFF parsing oracle-side — an endianness,
    tag-offset, or strip-order bug hash-mismatches against the shared
    pixel arithmetic."""
    import pandas as _pd

    from geist_spark.operators.multimodal import decode_real, tiff_encode_rgb

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        tiff_encode_rgb(
                            4, 2, bytes(px), big_endian=True, strips=2
                        )
                        for px in pdf["px"]
                    ],
                }
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_real(media).select(
        "media_id", "format", "width", "height", "channels", "mean_luma_fx"
    )


def m_decode_tiff_lzw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-TIFF decode under the oracle gate: the same 24
    md5-derived pixel bytes as m_decode_tiff, but even doc_ids are
    rotated by doc_id % 3 through LZW (TIFF 6.0 §13, early-change
    variable-width codes) with horizontal-differencing Predictor=2
    and big-endian 2-strip layout, PackBits (§9), and Deflate
    (Compression 8, bounded stdlib zlib with Predictor=2; round 8) —
    so all three real decompressors, the per-strip codec reset, and
    the predictor cumsum inversion run under the gate. The oracle is
    the SAME pixel arithmetic as the uncompressed gate (compression
    must be lossless); any LZW width-bump, predictor, inflate, or
    run-length bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import decode_real, tiff_encode_rgb

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        tiff_encode_rgb(
                            4, 2, bytes(px), big_endian=True, strips=2,
                            compression="lzw", predictor=2,
                        )
                        if mid % 3 == 0
                        else tiff_encode_rgb(
                            4, 2, bytes(px), strips=2,
                            compression="packbits",
                        )
                        if mid % 3 == 1
                        else tiff_encode_rgb(
                            4, 2, bytes(px), strips=2,
                            compression="deflate", predictor=2,
                        )
                        for mid, px in zip(pdf["media_id"], pdf["px"])
                    ],
                }
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_real(media).select(
        "media_id", "format", "width", "height", "channels", "mean_luma_fx"
    )


def _exif_fixture_parts(doc_id: int) -> tuple:
    """Shared analytic EXIF fixture: per-doc tag values + byte order.
    MUST stay in lockstep with the oracle CASE arithmetic (lengths:
    no-GPS APP1 = 99 bytes, GPS APP1 = 129)."""
    return (
        f"Maker{doc_id % 5}",
        f"M-{doc_id % 7}",
        doc_id % 8 + 1,
        f"2024:01:01 00:00:0{doc_id % 10}",
        doc_id % 3 == 0,       # gps
        doc_id % 2 == 1,       # big-endian TIFF
    )


def _exif_base_jpeg() -> bytes:
    from geist_spark.operators.jpeg import jpeg_encode_baseline

    return jpeg_encode_baseline(8, 8, gray=bytes([128]) * 64)


def m_exif_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF extraction under the oracle gate: a constant 8x8 JPEG
    gets a per-doc APP1 Exif segment (make/model/orientation/
    datetime analytic in doc_id; GPS IFD present iff doc_id%3==0;
    odd doc_ids use big-endian TIFF byte order — both orders run).
    The oracle is ANALYTIC: every output field is a pure function of
    doc_id; a marker-walk, IFD, byte-order, or string-termination
    bug mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import exif_app1, exif_extract

    docs = _t(spark, sf_dir, "documents")
    base = _exif_base_jpeg()

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                mk, md, ori, dt, gps, be = _exif_fixture_parts(int(did))
                payloads.append(
                    base[:2]
                    + exif_app1(mk, md, ori, dt, gps=gps, big_endian=be)
                    + base[2:]
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return exif_extract(media).select(
        "media_id", "format", "orientation", "make", "model",
        "datetime", "has_gps",
    )


def m_strip_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata stripping under the oracle gate: the same per-doc
    EXIF-tagged JPEGs as m_exif_extract, scrubbed by
    multimodal.strip_metadata. The stripped payload must be
    BYTE-IDENTICAL to the constant base JPEG (md5 literal in the
    oracle), and the length delta must equal the analytic APP1 size
    (99 / 129 bytes) — a walk bug that drops a structural segment or
    leaves metadata behind mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import exif_app1, strip_metadata

    docs = _t(spark, sf_dir, "documents")
    base = _exif_base_jpeg()

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                mk, md, ori, dt, gps, be = _exif_fixture_parts(int(did))
                payloads.append(
                    base[:2]
                    + exif_app1(mk, md, ori, dt, gps=gps, big_endian=be)
                    + base[2:]
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return strip_metadata(media).select(
        "media_id",
        "orig_len",
        "stripped_len",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def _riff_fixture(doc_id: int) -> tuple:
    """Per-doc RIFF INFO fixture values — fixed string LENGTHS so the
    strip oracle's chunk arithmetic stays analytic: LIST chunk = 56
    bytes, id3 chunk = 12 (present iff doc_id % 4 == 0)."""
    return (
        f"Artist {doc_id % 5}",   # 8 chars -> 18-byte subchunk
        f"T{doc_id % 7}",         # 2 chars -> 12
        f"202{doc_id % 10}",      # 4 chars -> 14
        doc_id % 4 == 0,
    )


def _riff_base_wav() -> bytes:
    import struct

    payload = b"\x00\x01" * 12
    return (
        b"RIFF" + struct.pack("<I", 36 + len(payload)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(payload)) + payload
    )


def _riff_tagged_wav(doc_id: int) -> bytes:
    import struct

    artist, title, date, id3 = _riff_fixture(doc_id)
    body = b"INFO"
    for sid, val in ((b"IART", artist), (b"INAM", title), (b"ICRD", date)):
        v = val.encode() + b"\x00"
        body += sid + struct.pack("<I", len(v)) + v
        if len(v) & 1:
            body += b"\x00"
    out = _riff_base_wav() + b"LIST" + struct.pack("<I", len(body)) + body
    if id3:
        out += b"id3 " + struct.pack("<I", 4) + b"tag!"
    return out


def m_riff_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIFF LIST/INFO extraction under the oracle gate: a constant
    PCM WAV gets per-doc INFO subchunks (artist/title/date analytic
    in doc_id) and an id3 chunk for doc_id%4==0. The oracle is
    ANALYTIC — a chunk-walk, padding, or NUL-termination bug
    mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import riff_info_extract

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [
                        _riff_tagged_wav(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return riff_info_extract(media).select(
        "media_id", "format", "artist", "title", "date",
        "software", "has_id3",
    )


def m_strip_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAV metadata stripping under the oracle gate: the same tagged
    WAVs as m_riff_info scrubbed by strip_metadata — output must be
    byte-identical to the constant base WAV (md5 literal), with the
    analytic LIST/id3 length delta."""
    import pandas as _pd

    from geist_spark.operators.multimodal import strip_metadata

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "payload": [
                        _riff_tagged_wav(int(d)) for d in pdf["doc_id"]
                    ],
                }
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return strip_metadata(media).select(
        "media_id",
        "orig_len",
        "stripped_len",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def m_strip_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PNG metadata stripping under the oracle gate: a constant 4x2
    RGB PNG gets a per-doc tEXt chunk (21 bytes: 'Author\\0A<d%5>')
    and a tIME chunk (19 bytes) spliced after IHDR; strip_metadata
    must return the base PNG byte-identically (md5 literal) with the
    analytic 40-byte delta."""
    import hashlib as _hl
    import struct as _st

    import pandas as _pd

    from geist_spark.operators.multimodal import (
        png_encode_rgb,
        strip_metadata,
    )

    docs = _t(spark, sf_dir, "documents")
    base = png_encode_rgb(4, 2, bytes(range(24)), [1, 4])
    ihdr_end = 8 + 8 + 13 + 4  # sig + IHDR chunk

    def chunk(ctype: bytes, body: bytes) -> bytes:
        import zlib as _zl

        return (
            _st.pack(">I", len(body)) + ctype + body
            + _st.pack(">I", _zl.crc32(ctype + body) & 0xFFFFFFFF)
        )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                text = chunk(
                    b"tEXt", b"Author\x00A" + str(int(did) % 5).encode()
                )
                time_c = chunk(
                    b"tIME", _st.pack(">HBBBBB", 2024, 1, 1, 0, 0, 0)
                )
                payloads.append(
                    base[:ihdr_end] + text + time_c + base[ihdr_end:]
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return strip_metadata(media).select(
        "media_id",
        "orig_len",
        "stripped_len",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


def m_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF metadata probe under the oracle gate: per-doc MP4 box
    trees (timescale 1000, duration (d%50+1)*500 ms, a video track
    with analytic 16.16 dimensions, an audio track iff d%2==0, and a
    64-bit-largesize mdat for d%5==0 so that path runs). The oracle
    is ANALYTIC — a box-walk, version, fixed-point, or
    largesize bug mismatches."""
    import pandas as _pd

    from geist_spark.operators.multimodal import mp4_build, mp4_probe

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                tracks = [(b"vide", 16 * (d % 10 + 1), 16 * (d % 6 + 1))]
                if d % 2 == 0:
                    tracks.append((b"soun", 0, 0))
                payloads.append(
                    mp4_build(
                        b"isom", 1000, (d % 50 + 1) * 500, tracks,
                        largesize_mdat=(d % 5 == 0),
                    )
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return mp4_probe(media).select(
        "media_id", "format", "major_brand", "duration_ms",
        "n_tracks", "width", "height", "has_video", "has_audio",
    )


def m_id3_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ID3v2 extraction under the oracle gate: per-doc tags rotate
    version (v2.4 even / v2.3 odd — syncsafe vs plain frame sizes)
    AND text encoding (latin-1/utf-16/utf-16-be/utf-8 by doc_id%4);
    the decoded strings are encoding-independent, so the oracle is
    ANALYTIC in doc_id. APIC present iff doc_id%3==0."""
    import pandas as _pd

    from geist_spark.operators.multimodal import id3_extract, id3v2_build

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                enc = d % 4
                payloads.append(
                    id3v2_build(
                        f"Song {d % 7}", f"Artist {d % 5}",
                        f"Album {d % 3}", f"202{d % 10}",
                        version=4 if d % 2 == 0 else 3,
                        apic=(d % 3 == 0),
                        encodings=(enc, enc, enc, enc),
                    )
                    + b"\xff\xfb\x90\x00audio"
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return id3_extract(media).select(
        "media_id", "format", "version", "title", "artist", "album",
        "date", "has_image",
    )


def m_strip_mp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3 tag stripping under the oracle gate: fixed-length utf-8
    tags (64-byte ID3v2) over a constant audio body, plus a trailing
    128-byte ID3v1 block for even doc_ids — stripped output must be
    the exact body (md5 literal) with analytic length deltas."""
    import pandas as _pd

    from geist_spark.operators.multimodal import id3v2_build, strip_metadata

    docs = _t(spark, sf_dir, "documents")
    body = _MP3_BODY

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                p = (
                    id3v2_build(
                        f"T{d % 7}", f"A{d % 5}", f"L{d % 3}",
                        f"202{d % 10}", version=4,
                    )
                    + body
                )
                if d % 2 == 0:
                    p += b"TAG" + bytes(125)
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return strip_metadata(media).select(
        "media_id",
        "orig_len",
        "stripped_len",
        F.md5(F.col("payload")).alias("payload_md5"),
    )


_MP3_BODY = b"\xff\xfb\x90\x00" + b"mpegframes" * 5


def m_vtt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-WebVTT parsing under the oracle gate (text.srt_parse
    dialect='vtt'): per-doc VTT with the features plain SRT lacks —
    an HOURS-OPTIONAL first cue (MM:SS.mmm), cue SETTINGS after the
    arrow target, inline markup (<c.class>, <v Speaker>) that must
    strip from cue text, a NOTE block to drop, and a full-hours
    second cue behind a cue-id line. All JVM-synthesized; the oracle
    is analytic in doc_id, so an optional-hours coalesce, settings-
    tolerance, or tag-strip bug hash-mismatches."""
    from geist_spark.operators.text import srt_parse

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    a = (d % 6).cast("string")
    ds = d.cast("string")
    vtt = F.concat(
        F.lit("WEBVTT\n\nNOTE synthetic\nsecond note line\n\n"),
        F.lit("00:0"), a, F.lit(".000 --> 00:0"), a,
        F.lit(".500 align:start position:10%\nHello <c.y>tag "), ds,
        F.lit("</c>\n\nid-2\n01:02:0"), a, F.lit(".250 --> 01:02:0"),
        a, F.lit(".900\n<v Ann>plain "), ds, F.lit("\n"),
    )
    subs = docs.select(d.alias("media_id"), vtt.alias("srt"))
    return srt_parse(subs, dialect="vtt")


def m_srt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtitle parsing under the oracle gate: per-doc synthetic
    subtitle files — even doc_ids SRT (index lines, comma millis),
    odd VTT (WEBVTT header + NOTE block to skip, dot millis, a
    cue-id line on cue 2) — built ENTIRELY JVM-side (concat) and
    parsed by text.srt_parse. The oracle is ANALYTIC: cue times and
    texts are pure functions of doc_id; a block-split, timestamp-
    arithmetic, line-indexing, or text-join bug mismatches."""
    from geist_spark.operators.text import srt_parse

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    a = (d % 6).cast("string")
    b = (d % 9).cast("string")
    c = (d % 10).cast("string")
    ds = d.cast("string")
    srt = F.concat(
        F.lit("1\n00:00:0"), a, F.lit(",000 --> 00:00:0"), a,
        F.lit(",900\nDoc "), ds, F.lit(" first\nmore\n\n"),
        F.lit("2\n00:0"), b, F.lit(":10,5"), c,
        F.lit("0 --> 01:0"), b, F.lit(":11,000\nSecond "), c,
        F.lit("\n"),
    )
    vtt = F.concat(
        F.lit("WEBVTT\n\nNOTE synthetic\n\n"),
        F.lit("00:00:0"), a, F.lit(".000 --> 00:00:0"), a,
        F.lit(".900\nDoc "), ds, F.lit(" first\nmore\n\n"),
        F.lit("cue-two\n00:0"), b, F.lit(":10.5"), c,
        F.lit("0 --> 01:0"), b, F.lit(":11.000\nSecond "), c,
        F.lit("\n"),
    )
    subs = docs.select(
        d.alias("media_id"),
        F.when(d % 2 == 0, srt).otherwise(vtt).alias("srt"),
    )
    return srt_parse(subs)


def m_webp_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP header probe under the oracle gate: variant rotates by
    doc_id%3 (lossy VP8 keyframe tag / lossless VP8L bit header /
    extended VP8X canvas), dimensions and flags analytic in
    doc_id."""
    import pandas as _pd

    from geist_spark.operators.multimodal import webp_build, webp_probe

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = 16 * (d % 10 + 1), 8 * (d % 6 + 1)
                v = d % 3
                if v == 0:
                    payloads.append(webp_build("lossy", w, h))
                elif v == 1:
                    payloads.append(
                        webp_build("lossless", w, h, alpha=(d % 2 == 0))
                    )
                else:
                    payloads.append(
                        webp_build(
                            "extended", w, h,
                            anim=(d % 2 == 0), exif=(d % 4 == 0),
                        )
                    )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return webp_probe(media).select(
        "media_id", "format", "variant", "width", "height",
        "has_alpha", "has_animation", "has_exif",
    )


def m_flac_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC metadata probe under the oracle gate: STREAMINFO bit
    fields and Vorbis comments analytic in doc_id (sample rate
    rotates 8000/22050/44100/48000; picture iff doc_id%4==0)."""
    import pandas as _pd

    from geist_spark.operators.multimodal import flac_build, flac_probe

    docs = _t(spark, sf_dir, "documents")
    rates = [8000, 22050, 44100, 48000]

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                sr = rates[d % 4]
                payloads.append(
                    flac_build(
                        sr, d % 2 + 1, 16 if d % 2 == 0 else 24,
                        sr * (d % 9 + 1),
                        {"ARTIST": f"Band {d % 5}",
                         "TITLE": f"Track {d % 7}"},
                        picture=(d % 4 == 0),
                    )
                )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return flac_probe(media).select(
        "media_id", "format", "sample_rate", "n_channels",
        "bits_per_sample", "total_samples", "duration_ms", "artist",
        "title", "has_picture",
    )


_AENV_HEADER = None


def _aenv_wav(px: bytes, reverse_frames: bool = False) -> bytes:
    """Audio-envelope gate fixture: 16 frames x 250 samples of the
    tiled 24 md5 bytes (centered), each frame amplitude-modulated by
    bytes[f+1] % 8 + 1 — a wide, analytic envelope. The twin variant
    reverses samples WITHIN each frame: different waveform, provably
    identical envelope."""
    import struct

    import numpy as _np

    bs = _np.frombuffer(px, _np.uint8).astype(_np.int32)
    vals = bs - 128
    tiled = _np.tile(vals, 4000 // 24 + 1)[:4000]
    mods = bs[:16] % 8 + 1
    frames = tiled.reshape(16, 250) * mods[:, None]
    if reverse_frames:
        frames = frames[:, ::-1]
    data = frames.astype("<i2").tobytes()
    return (
        b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", len(data)) + data
    )


# SQL twin of the fixture's envelope arithmetic: per-frame abs-sum of
# the modulated tiled signal in closed form (10 full 24-byte cycles +
# a 10-sample wrap window per frame, times the frame modulator)
_AENV_LVL_CTE = f"""
    WITH {{md5cte}}, env AS (
        SELECT doc_id, bytes,
               [abs(bytes[j] - 128) for j in generate_series(1, 24)] AS a
        FROM b
    ), sums AS (
        SELECT doc_id,
               [(bytes[f + 1] % 8 + 1)
                * (10 * list_sum(a)
                   + list_sum([a[((f * 250 + k) % 24) + 1]
                               for k in generate_series(0, 9)]))
                for f in generate_series(0, 15)] AS s
        FROM env
    ), lv AS (
        SELECT doc_id,
               [x * 8 // (list_max(s) + 1) for x in s] AS lvls
        FROM sums
    )
"""


def m_audio_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio envelope fingerprints under the oracle gate: per-doc
    modulated WAVs (see _aenv_wav), fingerprinted by
    multimodal.audio_envelope_fingerprint (decode -> per-frame
    abs-sum -> relative 8-level quantization -> 4-frame shingle
    md5-32bit). The oracle replays the envelope in CLOSED FORM (the
    tiled signal's frame sums decompose into 10 full cycles + a
    wrap window, times the modulator) — no audio parsing
    oracle-side."""
    import pandas as _pd

    from geist_spark.operators.multimodal import (
        audio_envelope_fingerprint,
    )

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        _aenv_wav(bytes(px)) for px in pdf["px"]
                    ],
                }
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return audio_envelope_fingerprint(media)


def m_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup under the oracle gate: every doc becomes TWO
    clips — base (media_id=2*doc_id) and a per-frame-REVERSED twin
    (2*doc_id+1; different waveform, identical envelope by
    construction) — paired by audio_near_dup_pairs' hash-grain
    grouping. With positional banding every twin pair shares exactly
    the 13 window hashes, so the oracle emits (2d, 2d+1, 13);
    cross-doc collisions at >= 8 SAME-POSITION shingles are
    probabilistically impossible (the dhash-twin argument on the
    audio axis)."""
    import pandas as _pd

    from geist_spark.operators.multimodal import audio_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("did"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did, px in zip(pdf["did"], pdf["px"]):
                b = bytes(px)
                ids.append(2 * int(did))
                payloads.append(_aenv_wav(b))
                ids.append(2 * int(did) + 1)
                payloads.append(_aenv_wav(b, reverse_frames=True))
            yield _pd.DataFrame({"media_id": ids, "payload": payloads})

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return audio_near_dup_pairs(
        media, min_shared=8, max_hash_clips=64
    )


def m_media_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unified media sniffing under the oracle gate: doc_id%8
    rotates through PNG/JPEG/WAV/MP4/WEBP/FLAC/GIF/TIFF payloads
    built by the fixture encoders, probed by multimodal.media_probe
    (header-only magic dispatch). Every output field is ANALYTIC in
    doc_id — a magic, header-offset, or unit bug in any branch
    mismatches."""
    import struct

    import pandas as _pd

    from geist_spark.operators.jpeg import jpeg_encode_baseline
    from geist_spark.operators.multimodal import (
        flac_build,
        gif_encode_rgb,
        id3v2_build,
        media_probe,
        mp3_build,
        mp4_build,
        png_encode_rgb,
        tiff_encode_rgb,
        webp_build,
    )

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                w, h = d % 5 + 1, d % 3 + 1
                rgb = bytes(w * h * 3)
                k = d % 9
                if k == 0:
                    p = png_encode_rgb(w, h, rgb)
                elif k == 1:
                    jw, jh = 8 * (d % 3 + 1), 8
                    p = jpeg_encode_baseline(
                        jw, jh, gray=bytes(jw * jh)
                    )
                elif k == 2:
                    n = 8 * (d % 9 + 1)
                    p = (
                        b"RIFF" + struct.pack("<I", 36 + n) + b"WAVE"
                        + b"fmt "
                        + struct.pack(
                            "<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8
                        )
                        + b"data" + struct.pack("<I", n) + bytes(n)
                    )
                elif k == 3:
                    p = mp4_build(
                        b"isom", 1000, (d % 50 + 1) * 500,
                        [(b"vide", 16 * (d % 10 + 1), 32)],
                    )
                elif k == 4:
                    p = webp_build("lossless", w, h)
                elif k == 5:
                    p = flac_build(8000, 1, 16, 8000 * (d % 9 + 1))
                elif k == 6:
                    p = gif_encode_rgb(w, h, rgb)
                elif k == 7:
                    p = tiff_encode_rgb(w, h, rgb)
                else:
                    # MP3: even docs CBR stereo (ID3v2+ID3v1 wrapped
                    # every other one), odd docs mono with a Xing
                    # frame count the walk must trust over the
                    # physical frames
                    n = d % 6 + 2
                    if d % 2 == 0:
                        tag = (
                            id3v2_build("T", "A", "B", "2024")
                            if d % 4 == 0 else b""
                        )
                        p = mp3_build(n, id3_tag=tag,
                                      id3v1=(d % 4 == 0))
                    else:
                        p = mp3_build(n, xing_frames=n + 37,
                                      stereo=False)
                payloads.append(p)
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return media_probe(media).select(
        "media_id", "format", "kind", "width", "height",
        "duration_ms", "sample_rate", "n_channels",
    )


def _archive_fixture_synth(batches):
    """Shared synth for the archive gates: even doc_ids a ZIP
    (doc.txt deflated + meta.json stored, stdlib zipfile — a
    REFERENCE implementation cross-validating the hand-written
    walker), odd a USTAR tar (stdlib tarfile; gzip-wrapped when
    doc_id % 4 == 3)."""
    import gzip as _gzip
    import io
    import tarfile
    import zipfile

    import pandas as _pd

    for pdf in batches:
        payloads = []
        for did, text in zip(pdf["doc_id"], pdf["text"]):
            d = int(did)
            members = [
                ("doc.txt", text.encode("utf-8")),
                ("meta.json", f'{{"id": {d}}}'.encode()),
            ]
            buf = io.BytesIO()
            if d % 2 == 0:
                with zipfile.ZipFile(buf, "w") as z:
                    z.writestr(
                        "doc.txt", members[0][1],
                        compress_type=zipfile.ZIP_DEFLATED,
                    )
                    z.writestr(
                        "meta.json", members[1][1],
                        compress_type=zipfile.ZIP_STORED,
                    )
                p = buf.getvalue()
            else:
                with tarfile.open(
                    fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
                ) as t:
                    for name, data in members:
                        ti = tarfile.TarInfo(name)
                        ti.size = len(data)
                        t.addfile(ti, io.BytesIO(data))
                p = buf.getvalue()
                if d % 4 == 3:
                    p = _gzip.compress(p, mtime=0)
            payloads.append(p)
        yield _pd.DataFrame(
            {"file_id": pdf["doc_id"], "payload": payloads}
        )


def w_archive_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive member enumeration under the oracle gate: stdlib-built
    zip/tar/tar.gz fixtures walked by prep.archive_list (hand-written
    central-directory / USTAR parsers — the stdlib fixture side
    cross-validates them). Names/sizes/methods are ANALYTIC in
    (doc_id, strlen(text))."""
    from geist_spark.operators.prep import archive_list

    docs = _t(spark, sf_dir, "documents")
    files = _fan(docs.select("doc_id", "text")).mapInPandas(
        _archive_fixture_synth, "file_id long, payload binary"
    )
    return archive_list(files)


def w_archive_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive text extraction under the oracle gate: the same
    fixtures' members inflated back out — doc.txt must round-trip
    the document text exactly (deflate AND tar paths), meta.json is
    analytic."""
    from geist_spark.operators.prep import archive_extract_text

    docs = _t(spark, sf_dir, "documents")
    files = _fan(docs.select("doc_id", "text")).mapInPandas(
        _archive_fixture_synth, "file_id long, payload binary"
    )
    return archive_extract_text(files)


def m_ogg_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg Vorbis/Opus probe under the oracle gate: codec rotates by
    doc_id%2 (Vorbis ident header / OpusHead with a pre-skip that
    the 48 kHz granule arithmetic must subtract), everything
    analytic in doc_id."""
    import pandas as _pd

    from geist_spark.operators.multimodal import ogg_build, ogg_probe

    docs = _t(spark, sf_dir, "documents")
    rates = [8000, 22050, 44100, 48000]

    def synth(batches):
        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                secs = d % 9 + 1
                if d % 2 == 0:
                    sr = rates[d % 4]
                    payloads.append(
                        ogg_build("vorbis", d % 2 + 1, sr, sr * secs)
                    )
                else:
                    payloads.append(
                        ogg_build(
                            "opus", d % 2 + 1, 16000,
                            48000 * secs + 312, preskip=312,
                        )
                    )
            yield _pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = _fan(docs.select("doc_id")).mapInPandas(
        synth, "media_id long, payload binary"
    )
    return ogg_probe(media).select(
        "media_id", "format", "codec", "n_channels", "sample_rate",
        "duration_ms",
    )


def w_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt filtering under the oracle gate: 10 synthetic hosts
    share a robots body with three agent groups (a 'bot' group, the
    '*' group with Allow /private/ok + Disallow /private + Disallow
    /tmp, and an 'other' group disallowing everything — the decoys
    catch grouping bugs); each doc gets one of six paths by
    doc_id % 6. The oracle is ANALYTIC — expected allowed/rule per
    path class: /public (no match -> allowed, NULL rule),
    /private/x (disallow), /private/ok/y (longest-rule Allow beats
    the shorter Disallow), /tmp (disallow), /docs/file.pdf (the
    '*.pdf$' wildcard+anchor rule), /wild-very-card (the
    '/wild*card' mid-rule wildcard)."""
    from geist_spark.operators.web import robots_filter, robots_rules

    docs = _t(spark, sf_dir, "documents")
    robots_body = (
        "# synthetic corpus robots\n"
        "User-agent: bot\nDisallow: /private\n\n"
        "User-agent: *\n"
        "Allow: /private/ok\n"
        "Disallow: /private\n"
        "Disallow: /tmp\n"
        "Disallow: \n"          # empty: matches nothing
        "Disallow: /wild*card\n"  # mid-rule wildcard (RFC 9309)
        "Disallow: *.pdf$\n"      # wildcard + end anchor
        "\n"
        "User-agent: other\nDisallow: /\n"
    )
    hosts = spark.range(10).select(
        F.concat(F.lit("h"), F.col("id"), F.lit(".example.com"))
        .alias("host"),
        F.lit(robots_body).alias("robots_txt"),
    )
    path = F.element_at(
        F.array(
            F.lit("/public/page"), F.lit("/private/x"),
            F.lit("/private/ok/y"), F.lit("/tmp"),
            F.lit("/docs/file.pdf"), F.lit("/wild-very-card"),
        ),
        (F.col("doc_id") % 6 + 1).cast("int"),
    )
    urls = docs.select(
        "doc_id",
        F.concat(
            F.lit("http://h"), F.col("doc_id") % 10,
            F.lit(".example.com"), path,
        ).alias("url"),
    )
    return robots_filter(urls, robots_rules(hosts))


def p_decompress_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transparent decompression under the oracle gate: each doc's
    text is compressed with the codec picked by doc_id % 8 — gzip,
    zlib, bzip2, xz (stdlib decode paths), TWO zstd shapes (a
    default pyarrow frame, and a level-19 frame behind a leading
    skippable frame), a multi-block LZ4 frame whose linked blocks
    match back into earlier blocks, and a framed-Snappy stream
    (operators/lzcodecs.py) — and fed through prep.decompress_text.
    The oracle is the IDENTITY on documents (text + byte length): a
    header-walk, multi-member, bounded-inflate, entropy-decode,
    checksum, or utf-8 bug in ANY codec breaks the round-trip
    hash."""
    import bz2 as _bz2
    import gzip as _gzip
    import lzma as _lzma
    import struct as _struct
    import zlib as _zlib

    import pandas as _pd
    import pyarrow as _pa

    from geist_spark.operators.lzcodecs import (
        snappy_stream_compress as _snapc,
    )
    from geist_spark.operators.prep import decompress_text

    def lz4_linked(raw):
        # each flush closes an LZ4F block; the default linked-block
        # mode lets later blocks match into earlier ones
        sink = _pa.BufferOutputStream()
        with _pa.CompressedOutputStream(sink, "lz4") as out:
            for i in range(0, len(raw), 64):
                out.write(raw[i : i + 64])
                out.flush()
        return sink.getvalue().to_pybytes()

    docs = _t(spark, sf_dir, "documents")
    codecs = [
        lambda raw: _gzip.compress(raw, mtime=0),
        _zlib.compress,
        _bz2.compress,
        _lzma.compress,  # FORMAT_XZ default
        lambda raw: _pa.compress(raw, codec="zstd", asbytes=True),
        lambda raw: _struct.pack("<II", 0x184D2A50, 10) + b"seek-index"
        + _pa.Codec("zstd", 19).compress(raw, asbytes=True),
        lz4_linked,
        _snapc,
    ]

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": [
                        codecs[did % 8](t.encode("utf-8"))
                        for did, t in zip(pdf["doc_id"], pdf["text"])
                    ],
                }
            )

    comp = _fan(docs.select("doc_id", "text")).mapInPandas(
        synth, "doc_id long, payload binary"
    )
    return decompress_text(comp)


def w_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record parsing under the oracle gate: each document
    becomes a 2-record WARC file (request + response, the response
    block an HTTP message whose payload is the doc text), synthesized
    ENTIRELY JVM-side (concat + octet_length build the exact
    Content-Length headers), wrapped in the transport picked by
    doc_id % 3 — plain, gzip member, zstd frame (the CommonCrawl
    .warc.zst layout, pyarrow's zstd) — then parsed by
    web.warc_parse. The oracle does NO WARC parsing — every field is
    an analytic string function of (doc_id, text): fixed template
    lengths + byte length of the text, md5 of the reconstructed
    blocks; the transport wheel cannot change it, so a gzip- or
    zstd-transport bug hash-mismatches."""
    from geist_spark.operators.web import warc_parse

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    crlf = "\r\n"
    uri = F.concat(F.lit("http://example.com/doc/"), did)
    req_block = F.concat(
        F.lit("GET /doc/"), did,
        F.lit(" HTTP/1.1" + crlf + "Host: example.com" + crlf + crlf),
    )
    resp_block = F.concat(
        F.lit("HTTP/1.1 200 OK" + crlf + "Content-Type: text/plain"
              + crlf + crlf),
        F.col("text"),
    )

    def rec(wtype: str, block):
        return F.concat(
            F.lit("WARC/1.0" + crlf + "WARC-Type: " + wtype + crlf
                  + "WARC-Target-URI: "),
            uri,
            F.lit(crlf + "WARC-Date: 2026-01-01T00:00:00Z" + crlf
                  + "Content-Length: "),
            F.octet_length(block).cast("string"),
            F.lit(crlf + crlf),
            block,
            F.lit(crlf + crlf),
        )

    import gzip as _gzip

    import pandas as _pd
    import pyarrow as _pa

    def transport(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "file_id": pdf["file_id"],
                    "payload": [
                        bytes(p)
                        if fid % 3 == 0
                        else (
                            _gzip.compress(bytes(p), mtime=0)
                            if fid % 3 == 1
                            else _pa.compress(
                                bytes(p), codec="zstd", asbytes=True
                            )
                        )
                        for fid, p in zip(pdf["file_id"], pdf["payload"])
                    ],
                }
            )

    files = _fan(
        docs.select(
            F.col("doc_id").alias("file_id"),
            F.encode(
                F.concat(
                    rec("request", req_block), rec("response", resp_block)
                ),
                "UTF-8",
            ).alias("payload"),
        )
    ).mapInPandas(transport, "file_id long, payload binary")
    return warc_parse(files).select(
        "file_id", "rec_idx", "warc_type", "target_uri", "content_length",
        "http_status", "http_content_type",
        F.md5("body").alias("body_md5"), "body_len",
    )


def p_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking under the oracle gate (text.chunk_text, pure JVM
    sequence+posexplode+substring): 180-char windows with 40-char
    overlap over the raw documents. The oracle replays the window
    arithmetic with generate_series + substr in DuckDB — an
    off-by-one in stride, ceil, the 1-based substring origin, or the
    min-1-chunk rule hash-mismatches (md5 of each chunk pins exact
    content)."""
    from geist_spark.operators.text import chunk_text

    docs = _t(spark, sf_dir, "documents")
    out = chunk_text(docs, chunk_chars=180, overlap=40)
    return out.select(
        "doc_id", "chunk_idx", "chunk_id",
        F.md5("chunk_text").alias("chunk_md5"), "n_chars",
    )


def w_avro_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro container ingestion under the oracle gate (operators/
    avro.py): each doc becomes a 2-record Object Container File with
    the codec picked by doc_id % 4 — null, deflate, snappy (raw
    block + big-endian CRC32 suffix), zstandard (both through
    pyarrow's codecs) — holding longs,
    md5-hex strings, booleans, a string array, a null|string union,
    an enum and base64 bytes. The reader's JSON rendering is the
    documented dialect (compact, schema order, unions unwrapped);
    the oracle rebuilds each record_json CHARACTER-EXACTLY with SQL
    string functions — a varint, zigzag, union-index, enum, block-
    framing, codec, or JSON-dialect bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.avro import avro_build, avro_records

    schema = {
        "type": "record", "name": "Doc", "fields": [
            {"name": "id", "type": "long"},
            {"name": "h", "type": "string"},
            {"name": "flag", "type": "boolean"},
            {"name": "tags",
             "type": {"type": "array", "items": "string"}},
            {"name": "note", "type": ["null", "string"]},
            {"name": "kind",
             "type": {"type": "enum", "name": "K",
                      "symbols": ["A", "B", "C"]}},
            {"name": "pay", "type": "bytes"},
        ],
    }
    codecs = ["null", "deflate", "snappy", "zstandard"]
    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.md5("text").alias("hx"))

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did, hx in zip(pdf["doc_id"], pdf["hx"]):
                recs = []
                for r in (0, 1):
                    recs.append({
                        "id": did * 10 + r,
                        "h": hx,
                        "flag": (did + r) % 2 == 0,
                        "tags": [f"t{did % 5}", "u"] if r == 0 else [],
                        "note": None if (did + r) % 3 == 0
                        else f"n{did % 7}",
                        "kind": "ABC"[(did + r) % 3],
                        "pay": bytes.fromhex(hx[:8]),
                    })
                payloads.append(
                    avro_build(schema, recs, codec=codecs[did % 4])
                )
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(src).mapInPandas(synth, "file_id long, payload binary")
    return avro_records(files)


def w_pb_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-less protobuf wire decode under the oracle gate
    (operators/pbwire.py, the protoc --decode_raw dialect): each doc
    becomes one wire message with a multi-byte varint, a UTF-8
    string, a nested message, a REPEATED field (list folding), a
    fixed64, and a non-UTF-8 bytes field that must fall through the
    nested-parse/string heuristics to base64. Fixture strings start
    with '~' (0x7E decodes as wire type 6, so the nested-parse
    heuristic fails instantly and deterministically — without the
    guard, hex-ish ASCII can legally parse as a message: the
    documented decode_raw ambiguity). The oracle rebuilds
    record_json character-exactly from doc_id — a varint, wire-type,
    nesting, repeat-fold, or heuristic-order bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.pbwire import pb_build, pb_decode_records

    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.substring(F.md5("text"), 1, 8).alias("h8"))

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did, h8 in zip(pdf["doc_id"], pdf["h8"]):
                a = did % 5
                payloads.append(pb_build([
                    (1, "varint", did),
                    (2, "str", f"~h{h8}"),
                    (3, "msg", [
                        (1, "varint", did % 100),
                        (2, "str", f"~x{did % 9}"),
                    ]),
                    (4, "varint", a), (4, "varint", a + 1),
                    (5, "i64", did * 1000000 + 7),
                    (6, "bytes", b"\xff\xfe"),
                ]))
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(src).mapInPandas(synth, "file_id long, payload binary")
    return pb_decode_records(files)


def w_yaml_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YAML safe-subset parsing under the oracle gate (operators/
    yamlsub.py, one pass over libyaml's events): a per-doc config
    document exercising block mappings, nested maps, flow sequences
    with quoted members, sequence items that are inline mappings, a
    plain scalar item, a literal block scalar, comments, and the
    plain-scalar typing (int/bool/null). The whole fixture is
    JVM-concat text; the oracle rebuilds record_json character-exactly
    from doc_id — a scalar-typing, key-order, block-chomping or
    JSON-rendering bug hash-mismatches."""
    from geist_spark.operators.yamlsub import yaml_records

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    y = F.concat(
        F.lit("# synthetic config\nname: doc-"), did,
        F.lit("\ncount: "), (F.col("doc_id") % 100).cast("string"),
        F.lit("\nok: "),
        F.when(F.col("doc_id") % 2 == 0, F.lit("true"))
        .otherwise(F.lit("false")),
        F.lit("\ntags: [t"), (F.col("doc_id") % 5).cast("string"),
        F.lit(', "x y"]\nnested:\n  a: '),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("\n  b: plain text  # trailing comment\nitems:\n"
              "  - run: step"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("\n    n: "), (F.col("doc_id") % 4).cast("string"),
        F.lit("\n  - lone\nscript: |\n  line "),
        (F.col("doc_id") % 6).cast("string"),
        F.lit("\n  tail\nmissing:\n"),
    )
    files = docs.select(
        F.col("doc_id").alias("file_id"), y.alias("text")
    )
    return yaml_records(files)


def w_plist_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apple plist parsing under the oracle gate (operators/
    plistfile.py, stdlib plistlib): the SAME per-doc dict — string,
    int, bool, bytes (base64 dialect), nested array — written as an
    XML plist for even doc_ids and a bplist00 BINARY plist for odd
    ones; both forms must render the identical record_json, which
    the oracle rebuilds character-exactly from doc_id."""
    import plistlib as _pl

    import pandas as _pd

    from geist_spark.operators.plistfile import plist_records

    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.substring(F.md5("text"), 1, 6).alias("h6"))

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did, h6 in zip(pdf["doc_id"], pdf["h6"]):
                d = {
                    "name": f"app-{did}",
                    "n": did % 1000,
                    "ok": did % 2 == 0,
                    "data": bytes.fromhex(h6),
                    "arr": [did % 7, "two"],
                }
                fmt = _pl.FMT_XML if did % 2 == 0 else _pl.FMT_BINARY
                # plistlib sorts keys by default; keep insertion order
                # so both forms land on the same JSON as the oracle
                payloads.append(_pl.dumps(d, fmt=fmt, sort_keys=False))
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(src).mapInPandas(synth, "file_id long, payload binary")
    return plist_records(files)


def w_sqlite_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQLite database-file reading under the oracle gate (operators/
    sqlitefile.py, stdlib deserialize): each doc becomes a 2-table
    database — 'logs' with INTEGER/TEXT/REAL/BLOB/NULL cells derived
    from doc_id (the blob exercises the base64 dialect, the NULL the
    null rendering, the dyadic REAL exact float text) and a 1-row
    'meta' table — streamed back out by sqlite_rows in name-then-
    rowid order. The oracle rebuilds every row_json character-exactly
    from doc_id."""
    import pandas as _pd

    from geist_spark.operators.sqlitefile import sqlite_build, sqlite_rows

    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.substring(F.md5("text"), 1, 6).alias("h6"))

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did, h6 in zip(pdf["doc_id"], pdf["h6"]):
                payloads.append(sqlite_build({
                    "logs": (
                        "id INTEGER, tag TEXT, score REAL, raw BLOB",
                        [
                            (did * 10, f"t{did % 5}", 0.5,
                             bytes.fromhex(h6)),
                            (did * 10 + 1, None, -1.25, b""),
                        ],
                    ),
                    "meta": ("k TEXT, v INTEGER",
                             [("docs", did % 100)]),
                }))
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(src).mapInPandas(synth, "file_id long, payload binary")
    return sqlite_rows(files)


def w_email_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 5322 email / mbox parsing under the oracle gate
    (operators/emailmsg.py, stdlib email under policy.default): even
    doc_ids get a MULTIPART message — RFC 2047 base64 encoded-word
    subject (built JVM-side with F.base64), text/plain + text/html
    alternatives, a PDF attachment with a filename — odd doc_ids a
    2-message MBOX of non-MIME plain messages (the splitter +
    trailing-newline body dialect). Every output field is analytic
    in doc_id — an encoded-word, MIME-walk, attachment-detection,
    date-parse, or mbox-split bug hash-mismatches."""
    from geist_spark.operators.emailmsg import email_parse

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    subj_b64 = F.base64(F.encode(F.concat(F.lit("Héllo "), did), "UTF-8"))
    single = F.encode(F.concat(
        F.lit("From: a"), did, F.lit("@ex.com\r\nTo: b@ex.com\r\n"
              "Subject: =?utf-8?B?"),
        subj_b64,
        F.lit("?=\r\nDate: Fri, 02 Jan 2026 03:04:05 +0000\r\n"
              "MIME-Version: 1.0\r\n"
              "Content-Type: multipart/mixed; boundary=XYZ\r\n\r\n"
              "--XYZ\r\nContent-Type: text/plain; charset=utf-8\r\n"
              "\r\nBody "),
        (F.col("doc_id") % 9).cast("string"),
        F.lit(".\r\n--XYZ\r\nContent-Type: text/html\r\n\r\n"
              "<p>h</p>\r\n--XYZ\r\n"
              "Content-Type: application/pdf\r\n"
              'Content-Disposition: attachment; filename="r'),
        (F.col("doc_id") % 4).cast("string"),
        F.lit('.pdf"\r\n\r\nPDF\r\n--XYZ--\r\n'),
    ), "UTF-8")
    mbox = F.encode(F.concat(
        F.lit("From x@y Mon Jan  1 00:00:00 2026\n"
              "From: c"), did, F.lit("@ex.com\nSubject: first\n\n"
              "first body "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("\n\nFrom x@y Mon Jan  1 00:00:01 2026\n"
              "From: d@ex.com\nSubject: second\n\nplain "),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("\n"),
    ), "UTF-8")
    files = docs.select(
        F.col("doc_id").alias("file_id"),
        F.when(F.col("doc_id") % 2 == 0, single).otherwise(mbox)
        .alias("payload"),
    )
    return email_parse(files)


def w_toml_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOML parsing under the oracle gate (operators/tomlsub.py,
    stdlib tomllib + the shared JSON dialect): a per-doc
    pyproject-shaped document with a table, an array of tables,
    dotted keys, an underscore int, a hex int, an array, an inline
    table and an offset datetime (ISO-8601 string dialect). The
    oracle rebuilds record_json character-exactly from doc_id."""
    from geist_spark.operators.tomlsub import toml_records

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    t = F.concat(
        F.lit("# synthetic project\n[package]\nname = \"pkg-"), did,
        F.lit("\"\nbuild = 1_0"), (F.col("doc_id") % 10).cast("string"),
        F.lit("\nmask = 0x0"), (F.col("doc_id") % 10).cast("string"),
        F.lit("\ntags = [\"a\", \"b\"]\npoint = { x = "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit(", y = true }\nwhen = 2026-01-02T03:04:05Z\n\n[[bin]]\n"
              "path = \"p"),
        (F.col("doc_id") % 3).cast("string"),
        F.lit("\"\n\n[[bin]]\npath = \"q\"\n\n[deps.sub]\nok = false\n"),
    )
    files = docs.select(
        F.col("doc_id").alias("file_id"), t.alias("text")
    )
    return toml_records(files)


def w_msgpack_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MessagePack decode under the oracle gate (operators/
    msgpack.py): one canonical-encoded message per doc holding a
    positive varint-family int, an md5-hex string, a negative fixint,
    a mixed array with nil, a map under a NON-STRING key (the
    stringify dialect), a bin (base64 dialect), and a uint64-range
    int. The oracle rebuilds record_json character-exactly from
    doc_id — a type-byte, length-header, key-stringify, or base64
    bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.msgpack import mp_encode, mp_decode_records

    docs = _t(spark, sf_dir, "documents")
    src = docs.select("doc_id", F.substring(F.md5("text"), 1, 8).alias("h8"))

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did, h8 in zip(pdf["doc_id"], pdf["h8"]):
                inner = b"\x81" + mp_encode(7) + mp_encode(f"v{did % 4}")
                body = (
                    b"\x86"
                    + mp_encode("id") + mp_encode(did)
                    + mp_encode("h") + mp_encode(f"~{h8}")
                    + mp_encode("neg") + mp_encode(-(did % 50) - 1)
                    + mp_encode("arr")
                    + mp_encode([did % 3, "s", None])
                    + mp_encode("m") + inner
                    + mp_encode("bin") + mp_encode(b"\xff\xfe")
                )
                payloads.append(body)
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(src).mapInPandas(synth, "file_id long, payload binary")
    return mp_decode_records(files)


def w_page_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenGraph / canonical / JSON-LD page metadata under the oracle
    gate (web.page_metadata, pure JVM): each doc gets an HTML head by
    doc_id % 3 — (0) full metadata with og:title in
    property-then-content order, og:description REVERSED
    (content-first, the other real-world attribute order), an
    entity-encoded title, canonical link and two JSON-LD blocks; (1)
    partial metadata (description + one JSON-LD, no OG); (2) a bare
    page with none. The oracle is purely analytic in doc_id — an
    attribute-order, entity, first-match, or block-count bug
    hash-mismatches."""
    from geist_spark.operators.web import page_metadata

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    full = F.concat(
        F.lit('<html><head><meta property="og:title" content="Title '
              '&amp; '),
        did,
        F.lit('"/><meta content="Desc '),
        did,
        F.lit('" property="og:description"/><link rel="canonical" '
              'href="http://canon.example/'),
        did,
        F.lit('"/><meta name="description" content="meta desc"/>'
              '<script type="application/ld+json">{"@context":'
              '"https://schema.org","@type":"Article","headline":"H'),
        did,
        F.lit('"}</script><script type="application/ld+json">'
              '{"@type":"Person"}</script></head><body>x</body></html>'),
    )
    partial = F.concat(
        F.lit('<html><head><meta name="description" content="only '),
        did,
        F.lit('"/><script type="application/ld+json">{"@type":'
              '"NewsArticle"}</script></head><body>y</body></html>'),
    )
    bare = F.lit("<html><head><title>t</title></head><body>z</body></html>")
    pages = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, full)
        .when(F.col("doc_id") % 3 == 1, partial)
        .otherwise(bare)
        .alias("html"),
    )
    return page_metadata(pages)


def w_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing under the oracle gate (web.sitemap_parse, pure
    JVM): each doc becomes, by doc_id % 3 — a 2-entry urlset (entity
    &amp; in loc, whitespace-padded loc, a non-numeric priority that
    must cast to NULL), a 2-entry sitemapindex, or a NON-sitemap HTML
    payload that must yield ZERO rows. The oracle does no XML work at
    all: every field is a literal function of doc_id, so a block-split,
    field-extract, trim, entity-decode, ordering, or kind-sniff bug
    hash-mismatches."""
    from geist_spark.operators.web import sitemap_parse

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    urlset = F.concat(
        F.lit('<?xml version="1.0"?>\n<urlset xmlns="http://www.'
              'sitemaps.org/schemas/sitemap/0.9">\n<url><loc>'
              "http://ex.example/p?a="),
        did,
        F.lit("&amp;b=2</loc><lastmod>2026-01-02</lastmod>"
              "<changefreq>daily</changefreq><priority>0.8</priority>"
              "</url>\n<url><loc> http://ex.example/q/"),
        did,
        F.lit(" </loc><priority>high</priority></url>\n</urlset>"),
    )
    index = F.concat(
        F.lit('<sitemapindex xmlns="http://www.sitemaps.org/schemas/'
              'sitemap/0.9"><sitemap><loc>http://ex.example/sm1-'),
        did,
        F.lit(".xml</loc><lastmod>2025-12-31</lastmod></sitemap>"
              "<sitemap><loc>http://ex.example/sm2-"),
        did,
        F.lit(".xml</loc></sitemap></sitemapindex>"),
    )
    html = F.concat(F.lit("<html><body>not a sitemap "), did,
                    F.lit("</body></html>"))
    files = docs.select(
        F.col("doc_id").alias("file_id"),
        F.when(F.col("doc_id") % 3 == 0, urlset)
        .when(F.col("doc_id") % 3 == 1, index)
        .otherwise(html)
        .alias("xml"),
    )
    return sitemap_parse(files)


def w_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CommonCrawl cc-index machinery under the oracle gate: each doc
    gets a messy URL by doc_id % 4 (upper-case scheme/host, www and
    www2 prefixes, default and explicit ports, out-of-order query,
    trailing slash runs), a CDXJ line is synthesized JVM-side whose
    urlkey field is the EXPECTED SURT, and the query returns
    web.cdx_parse's typed fields plus web.surt_key recomputed from
    the parsed url. The oracle derives every column analytically from
    doc_id — including the SURT, independently re-derived as SQL
    string functions — so a label-reversal, www-strip, port, query-
    sort, JSON-field, or timestamp-cast bug hash-mismatches."""
    from geist_spark.operators.web import cdx_parse, surt_key

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    k = (F.col("doc_id") % 10).cast("string")
    v = F.col("doc_id") % 4
    url = (
        F.when(v == 0, F.concat(
            F.lit("HTTP://WWW.Site"), k, F.lit(".COM/Path"), did,
            F.lit("/?b=2&a=1")))
        .when(v == 1, F.concat(
            F.lit("https://sub.site"), k, F.lit(".org:8443/x")))
        .when(v == 2, F.concat(
            F.lit("http://site"), k, F.lit(".net:80/")))
        .otherwise(F.concat(
            F.lit("https://www2.site"), k, F.lit(".io/a//")))
    )
    surt = (
        F.when(v == 0, F.concat(
            F.lit("com,site"), k, F.lit(")/path"), did,
            F.lit("?a=1&b=2")))
        .when(v == 1, F.concat(
            F.lit("org,site"), k, F.lit(",sub:8443)/x")))
        .when(v == 2, F.concat(F.lit("net,site"), k, F.lit(")/")))
        .otherwise(F.concat(F.lit("io,site"), k, F.lit(")/a")))
    )
    line = F.concat(
        surt, F.lit(" 20260102030405 {\"url\": \""), url,
        F.lit("\", \"mime\": \"text/html\", \"status\": \"200\", "
              "\"length\": \""),
        (F.col("doc_id") % 9000 + 100).cast("string"),
        F.lit("\", \"offset\": \"42\", \"filename\": \"crawl-"),
        k,
        F.lit(".warc.gz\"}"),
    )
    lines = docs.select("doc_id", line.alias("line"))
    parsed = cdx_parse(lines, keep_cols=("doc_id",))
    return parsed.select(
        "doc_id", "urlkey", "ts", "url", "mime", "status", "length",
        "offset", "filename",
        surt_key(F.col("url")).alias("surt_recomputed"),
    )


def w_decode_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware crawl-text decode under the oracle gate: each doc
    is encoded into one of 13 legacy-web shapes picked by doc_id % 13
    — utf-16-le BOM, utf-8 BOM, HTTP-header cp1251, header iso-8859-1
    (the WHATWG remap to windows-1252 decodes 0x93/0x94 smart
    quotes), meta shift_jis, meta http-equiv gb2312 (remap to gbk),
    undeclared clean utf-8, an undeclared cp1252 byte run with
    one unmappable hole (0x81 -> U+FFFD, n_replacements=1), and FIVE
    MISLABELED pages exercising the content-based confidence sniff
    (charset_source='sniff'): header-latin1 bytes that are really
    multi-byte UTF-8, header-utf-8 bytes that are really GBK,
    undeclared Shift-JIS (kana signal), undeclared ISO-2022-JP
    (escape-sequence signal), and undeclared windows-1251 (Cyrillic
    letter-run signal) — then fed through web.decode_text. The
    oracle does NO decoding: every variant's expected text is doc
    text || a literal suffix (the docs corpus is ASCII by
    construction, so the fixture encode is exact), plus literal
    charset/source columns. A BOM-order, label-remap, sniff-window,
    utf-8-probe, replacement-count, or mislabel-sniff bug
    hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.web import decode_text

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            bodies, ctypes = [], []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                v = did % 13
                if v == 8:
                    bodies.append(
                        t.encode("ascii") + " naïve café".encode()
                    )
                    ctypes.append("text/html; charset=iso-8859-1")
                    continue
                if v == 9:
                    bodies.append(
                        (t + " 中文网页内容测试").encode("gbk")
                    )
                    ctypes.append("text/html; charset=utf-8")
                    continue
                if v == 10:
                    bodies.append(
                        (t + " これはテストです、ようこそ").encode(
                            "shift_jis"
                        )
                    )
                    ctypes.append(None)
                    continue
                if v == 11:
                    bodies.append(
                        (t + " 日本語テキスト").encode("iso-2022-jp")
                    )
                    ctypes.append(None)
                    continue
                if v == 12:
                    bodies.append(
                        (t + " привет как дела хорошо").encode("cp1251")
                    )
                    ctypes.append(None)
                    continue
                if v == 0:
                    bodies.append(
                        b"\xff\xfe" + (t + " Ω bom").encode("utf-16-le")
                    )
                    ctypes.append(None)
                elif v == 1:
                    bodies.append(
                        b"\xef\xbb\xbf" + (t + " ✓").encode("utf-8")
                    )
                    ctypes.append(None)
                elif v == 2:
                    bodies.append((t + " Привет").encode("cp1251"))
                    ctypes.append("text/html; charset=windows-1251")
                elif v == 3:
                    bodies.append(t.encode("ascii") + b" \x93q\x94")
                    ctypes.append("text/plain; charset=ISO-8859-1")
                elif v == 4:
                    bodies.append(
                        ('<meta charset="shift_jis">' + t
                         + " こんにちは").encode("shift_jis")
                    )
                    ctypes.append(None)
                elif v == 5:
                    bodies.append(
                        ('<meta http-equiv="Content-Type" content='
                         '"text/html; charset=gb2312">' + t
                         + " 你好").encode("gbk")
                    )
                    ctypes.append(None)
                elif v == 6:
                    bodies.append((t + " café ☕").encode("utf-8"))
                    ctypes.append(None)
                else:
                    bodies.append(t.encode("ascii") + b" caf\xe9\x81")
                    ctypes.append(None)
            yield _pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "body": bodies,
                    "content_type": ctypes,
                }
            )

    recs = _fan(docs.select("doc_id", "text")).mapInPandas(
        synth, "doc_id long, body binary, content_type string"
    )
    return decode_text(recs, content_type_col="content_type")


def w_crawl_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole crawl-ingestion bridge composed end-to-end under ONE
    oracle gate: each doc becomes a gzip-transport WARC file whose
    response carries a WINDOWS-1251 HTML page (declared only via the
    HTTP Content-Type header), then web.warc_parse (record walk +
    header split) -> web.decode_text (header-charset tier, cp1251
    codec) -> web.html_extract (all-JVM regex pipeline) runs as one
    chain — record framing, charset sniff, byte decode, and
    boilerplate strip all in the same lineage, the exact pipeline a
    CommonCrawl user runs. The oracle is fully analytic: title /
    text / anchor count are string functions of (doc_id, collapsed
    text) plus the literal cp1251 suffix; a bug ANYWHERE in the
    three-stage chain hash-mismatches."""
    import gzip as _gzip

    import pandas as _pd

    from geist_spark.operators.web import (
        decode_text,
        html_extract,
        warc_parse,
    )

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        crlf = "\r\n"
        for pdf in batches:
            payloads = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                html = (
                    f"<html><head><title>Doc {did}</title></head>"
                    f'<body><a href="/">home</a> <p>{t} Привет</p>'
                    "</body></html>"
                ).encode("cp1251")
                http = (
                    "HTTP/1.1 200 OK" + crlf
                    + "Content-Type: text/html; charset=windows-1251"
                    + crlf + crlf
                ).encode("ascii") + html
                rec = (
                    f"WARC/1.0{crlf}WARC-Type: response{crlf}"
                    f"WARC-Target-URI: http://x.ru/{did}{crlf}"
                    f"Content-Length: {len(http)}{crlf}{crlf}"
                ).encode("ascii") + http + crlf.encode() * 2
                payloads.append(_gzip.compress(rec, mtime=0))
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(docs.select("doc_id", "text")).mapInPandas(
        synth, "file_id long, payload binary"
    )
    recs = warc_parse(files).filter(F.col("warc_type") == "response")
    decoded = decode_text(
        recs, id_col="file_id", content_type_col="http_content_type"
    )
    pages = decoded.select(
        F.col("file_id").alias("doc_id"), F.col("text").alias("html")
    )
    return html_extract(pages)


def w_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF text extraction under the oracle gate: each doc becomes a
    REAL 2-page PDF (page 0: 'Doc {id}' + the doc text as a second
    line; page 1: a WinAnsi 'café fin' line) built by the paired
    minimal writer, with the container variant picked by doc_id % 12 —
    plain classic streams, FlateDecode, flate+indirect-/Length+
    /Contents-array, /Prev-chained two-section xref with TJ-array
    shows, PDF 1.5 cross-reference STREAM with every non-stream
    object packed into an object stream, 1.5 with the PNG-Up
    xref predictor + Flate content, and TWO composite-font variants
    (Type0/Identity-H + generated /ToUnicode CMap, shows as
    2-byte-CID hex strings; one classic, one 1.5+objstm+flate) plus
    FOUR ENCRYPTED variants (Standard handler, empty user
    password: RC4 R2 classic, RC4 R3 flate composite-font with an
    encrypted ToUnicode stream, AES-128 AESV2 classic, and AES-256
    AESV3 R6 flate composite-font — the SHA-2 KDF + /UE key unwrap
    + CBC-decrypted streams) —
    then parsed by pdf.pdf_extract_text (xref walk incl. xref/object
    streams, object grammar, bounded inflate, BT/ET assembly, CMap
    decode). The oracle does NO PDF parsing: expected text is a pure
    string function of (doc_id, text) and the container variant
    NEVER changes it. An offset, Flate, /Length-resolution,
    xref-stream-field, predictor, object-stream, page-tree,
    string-escape, TJ, or ToUnicode-CMap bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.pdf import (
        content_ops,
        pdf_build,
        pdf_extract_text,
    )

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                v = did % 12
                if v in (6, 7, 9, 11):
                    kw = (
                        {} if v == 6
                        else {"xref_stream": True, "objstm": True,
                              "flate": True} if v == 7
                        # RC4-encrypted (R3) composite-font file:
                        # content AND ToUnicode streams decrypt
                        else {"encrypt_rc4": 3, "flate": True}
                        if v == 9
                        # AES-256 (AESV3 R6) composite-font file:
                        # SHA-2 KDF + UE unwrap + CBC streams
                        else {"encrypt_aes": 5, "flate": True}
                    )
                    payloads.append(pdf_build(
                        [],
                        type0_pages=[[f"Doc {did}", t], ["café fin"]],
                        **kw,
                    ))
                    continue
                if v in (8, 10):
                    # RC4-R2 / AES-128-AESV2 classic simple-font files
                    p0 = content_ops([f"Doc {did}", t])
                    p1 = content_ops(["café fin"])
                    payloads.append(pdf_build(
                        [p0, p1],
                        **({"encrypt_rc4": 2} if v == 8
                           else {"encrypt_aes": 4}),
                    ))
                    continue
                tj = v == 3
                p0 = content_ops([f"Doc {did}", t], use_tj_array=tj)
                p1 = content_ops(["café fin"], use_tj_array=tj)
                kw = (
                    {} if v == 0
                    else {"flate": True} if v == 1
                    else {"flate": True, "indirect_length": True,
                          "contents_array": True} if v == 2
                    else {"two_xref_sections": True} if v == 3
                    else {"xref_stream": True, "objstm": True} if v == 4
                    else {"xref_stream": True, "objstm": True,
                          "predictor": True, "flate": True}
                )
                payloads.append(pdf_build([p0, p1], **kw))
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(docs.select("doc_id", "text")).mapInPandas(
        synth, "file_id long, payload binary"
    )
    return pdf_extract_text(files)



def w_office_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Office/ebook-document text extraction under the oracle gate:
    each doc becomes one of SEVEN real containers by doc_id % 7 —
    DOCX (split w:t runs + a w:tab paragraph), a 2-slide PPTX, XLSX
    with shared strings, XLSX with inline strings, ODT, a 2-chapter
    EPUB (ZIP + container.xml + OPF spine + XHTML with a <br/> and an
    inline <em>), and RTF (cp1252 \\'xx escapes, \\uN?, data
    destinations + a \\pict group the reader must drop) — built by
    the stdlib-zipfile / string fixture writers, then parsed by
    office.office_extract_text. The oracle does NO container parsing:
    every part's expected text is a pure string function of (doc_id,
    text) and the container NEVER changes it — a zip-walk, namespace,
    shared-string-index, spine-order, RTF-group-skip, or
    run-concatenation bug hash-mismatches."""
    import pandas as _pd

    from geist_spark.operators.office import (
        docx_build,
        epub_build,
        odt_build,
        office_extract_text,
        pptx_build,
        rtf_build,
        xlsx_build,
    )

    docs = _t(spark, sf_dir, "documents")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for did, t in zip(pdf["doc_id"], pdf["text"]):
                v = did % 7
                if v == 0:
                    p = docx_build(
                        [f"Doc {did}", t, "col a\tcol b"]
                    )
                elif v == 1:
                    p = pptx_build(
                        [[f"Doc {did}", t], ["deck end"]]
                    )
                elif v == 2:
                    p = xlsx_build(
                        [[["id", str(did)], [t, "x"]]], shared=True
                    )
                elif v == 3:
                    p = xlsx_build(
                        [[["id", str(did)], [t, "x"]]], shared=False
                    )
                elif v == 4:
                    p = odt_build([f"Doc {did}", t])
                elif v == 5:
                    p = epub_build(
                        [[f"Doc {did}", t + "\nsecond line"],
                         ["chapter two ✓"]]
                    )
                else:
                    p = rtf_build(
                        [f"Doc {did}", t, "fin — déjà ✓"]
                    )
                payloads.append(p)
            yield _pd.DataFrame(
                {"file_id": pdf["doc_id"], "payload": payloads}
            )

    files = _fan(docs.select("doc_id", "text")).mapInPandas(
        synth, "file_id long, payload binary"
    )
    return office_extract_text(files)

def m_frame_sample_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-video frame extraction under the oracle gate: a
    2-frame MJPEG AVI per document, each frame a DC-exact baseline
    JPEG (12 md5 bytes as a 4x3 grid of constant 8x8 blocks -> 32x24
    px; frame 0 = digest bytes 1-12, frame 1 = bytes 13-24), run
    through the real RIFF walk + per-sampled-frame JPEG decode
    (multimodal.frame_sample_real). The oracle replays each frame's
    luma ARITHMETICALLY — (1000*64*sum(levels))//768 = (250*sum)//3 —
    with no container or JPEG parsing oracle-side; a chunk-walk,
    Huffman, or IDCT-scaling bug hash-mismatches. pixel_md5 projected
    out (DuckDB cannot md5 raw bytes)."""
    import struct

    import pandas as _pd

    from geist_spark.operators.jpeg import jpeg_encode_baseline
    from geist_spark.operators.multimodal import frame_sample_real

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        import numpy as _np

        def chunk(cid, body):
            return cid + struct.pack("<I", len(body)) + body + (
                b"\x00" if len(body) & 1 else b""
            )

        (mjpg,) = struct.unpack("<I", b"MJPG")
        avih = struct.pack(
            "<IIIIIIIIIIIIII", 40000, 0, 0, 0, 2, 0, 1, 0, 32, 24,
            0, 0, 0, 0,
        )
        strh = chunk(b"strh", b"vids" + b"MJPG" + b"\x00" * 48)
        strf = chunk(b"strf", struct.pack(
            "<IiiHHIIiiII", 40, 32, 24, 1, 24, mjpg, 0, 0, 0, 0, 0,
        ))
        strl = chunk(b"LIST", b"strl" + strh + strf)
        hdrl = chunk(b"LIST", b"hdrl" + chunk(b"avih", avih) + strl)

        for pdf in batches:
            payloads = []
            for px in pdf["px"]:
                levels = _np.frombuffer(bytes(px), dtype=_np.uint8)
                movi = b"movi"
                for f in range(2):
                    grid = levels[12 * f : 12 * f + 12].reshape(3, 4)
                    gray = _np.repeat(
                        _np.repeat(grid, 8, axis=0), 8, axis=1
                    )  # 24 rows x 32 cols
                    movi += chunk(b"00dc", jpeg_encode_baseline(
                        32, 24, gray=gray.tobytes(), quant=8
                    ))
                body = b"AVI " + hdrl + chunk(b"LIST", movi)
                payloads.append(
                    b"RIFF" + struct.pack("<I", len(body)) + body
                )
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return frame_sample_real(media, every_ms=40).select(
        "media_id", "frame_idx", "ts_ms", "width", "height", "mean_luma_fx"
    )


def m_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode under the oracle gate: the 24
    md5-derived bytes become a 6x4 grid of constant 8x8 grayscale
    blocks (48x32 px) encoded per document by jpeg_encode_baseline
    with a flat quant=8 table — the DC-exact construction (FDCT of a
    constant-L block is DC-only with S00 = 8(L-128); /8 quantization
    keeps it integral; see jpeg.py module docstring), so the full
    Huffman + dequant + IDCT pipeline reproduces the source levels
    BIT-EXACTLY and the oracle replays the mean luma ARITHMETICALLY
    from the hex digests with no JPEG parsing oracle-side: each level
    v contributes 64 of the 1536 gray pixels, so mean_luma_fx =
    (1000 * 64 * sum(v)) // 1536 = (125 * sum(v)) // 3. Since round 8
    odd doc_ids encode PROGRESSIVE (SOF2: interleaved DC first +
    refine, AC band scans with EOB runs, a full successive-
    approximation ladder) — the DC-exact construction holds in both
    modes, so the SAME oracle covers both codecs. A Huffman-,
    zigzag-DC-, dequant-, IDCT-scaling, or progressive-scan bug
    Spark-side breaks the equality; AC paths, color, subsampling and
    restart markers are pinned by round-trip + cross-validation
    tests in tests/test_jpeg.py."""
    import pandas as _pd

    from geist_spark.operators.jpeg import (
        jpeg_encode_baseline,
        jpeg_encode_progressive,
    )
    from geist_spark.operators.multimodal import decode_real

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        import numpy as _np

        for pdf in batches:
            payloads = []
            for mid, px in zip(pdf["media_id"], pdf["px"]):
                levels = _np.frombuffer(bytes(px), dtype=_np.uint8)
                gray = _np.repeat(
                    _np.repeat(levels.reshape(4, 6), 8, axis=0), 8, axis=1
                )
                enc = (
                    jpeg_encode_progressive
                    if mid % 2
                    else jpeg_encode_baseline
                )
                payloads.append(
                    enc(48, 32, gray=gray.tobytes(), quant=8)
                )
            yield _pd.DataFrame(
                {"media_id": pdf["media_id"], "payload": payloads}
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_real(media).select(
        "media_id", "format", "width", "height", "channels", "mean_luma_fx"
    )


def m_audio_dsp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio DSP under the oracle gate: the same synthesized
    12-sample 16-bit PCM WAV as m_decode_audio, run through
    multimodal.audio_dsp_features (pure-python RIFF walk + numpy
    time-domain kernels). The gate selects the EXACT-INTEGER features
    — zero-crossing count (sign-bucket transitions at x<0), sum of
    absolute amplitude, peak — which the oracle reassembles
    ARITHMETICALLY from the md5 hex digests (lo + 256·hi two's
    complement, pairwise sign comparison) with no WAV parsing
    oracle-side. The FFT-domain columns (centroid/bandwidth/rolloff/
    flatness) are projected out here — DuckDB has no FFT — and are
    pinned instead by analytic pure-tone goldens in
    tests/test_multimodal.py."""
    import struct

    from geist_spark.operators.multimodal import audio_dsp_features

    docs = _t(spark, sf_dir, "documents")
    header = (
        b"RIFF" + struct.pack("<I", 36 + 24) + b"WAVE"
        + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
        + b"data" + struct.pack("<I", 24)
    )
    payload = F.concat(F.lit(header), _md5_payload_bytes())
    media = _fan(
        docs.select(
            F.col("doc_id").alias("media_id"), payload.alias("payload")
        )
    )
    return audio_dsp_features(media).select(
        "media_id", "format", "n_frames", "zero_crossings", "sum_abs",
        "peak_abs",
    )


def m_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode under the oracle gate: the same 24 md5-derived
    pixel bytes as m_decode_real/m_decode_png, laid out 2x4 and
    encoded per document as a GIF89a (per-image palette, real greedy
    LZW with dictionary growth) by multimodal.gif_encode_rgb —
    doc_id % 3 rotates INTERLACED, a SUB-RECT frame composited onto
    a white 4x6 logical screen, and a TRANSPARENT-color frame
    (pixel 0's color flagged via a graphic control extension; round
    8 compositing dialect) — then decoded by multimodal.decode_real
    (pure-python variable-width LZW + numpy palette mapping + 4-pass
    deinterlace row gather + white-screen compositing). The oracle
    recomputes every variant's luma ARITHMETICALLY from the md5 hex
    digests with no GIF parsing oracle-side — an LZW, color-table,
    sub-block-walk, placement, or transparency bug hash-mismatches
    (luma is order-insensitive, so deinterlace correctness is pinned
    by the cross-format pixel_md5 golden in
    tests/test_multimodal.py)."""
    import pandas as _pd

    from geist_spark.operators.multimodal import decode_real, gif_encode_rgb

    docs = _t(spark, sf_dir, "documents")
    src = docs.select(
        F.col("doc_id").alias("media_id"), _md5_payload_bytes().alias("px")
    )

    def synth(batches):
        for pdf in batches:
            yield _pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "payload": [
                        gif_encode_rgb(2, 4, bytes(px), interlace=True)
                        if mid % 3 == 0
                        else gif_encode_rgb(
                            2, 4, bytes(px), screen=(4, 6),
                            left=1, top=1,
                        )
                        if mid % 3 == 1
                        else gif_encode_rgb(
                            2, 4, bytes(px),
                            transparent_color=tuple(bytes(px)[:3]),
                        )
                        for mid, px in zip(pdf["media_id"], pdf["px"])
                    ],
                }
            )

    media = _fan(src).mapInPandas(synth, "media_id long, payload binary")
    return decode_real(media).select(
        "media_id", "format", "width", "height", "channels", "mean_luma_fx"
    )



def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shape conditional-aggregation ratio (promo revenue
    share) — pushed date filter, broadcast part dim, one agg."""
    from geist_spark.operators.relational import promo_revenue_share

    return promo_revenue_share(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_data_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative constraint suite over orders: 7 checks
    (completeness, uniqueness, accepted values, ranges, pattern,
    referential integrity vs customer) compiled into ONE scan + one
    broadcast left join — adding a check adds an aggregate column,
    never a pass."""
    from geist_spark.operators.quality import Check, validate

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    return validate(
        orders,
        [
            Check("not_null", "o_custkey"),
            Check("unique", "o_orderkey"),
            Check("accepted_values", "o_orderstatus", values=("O", "F", "P")),
            Check("in_range", "o_totalprice", lo=0, hi=500000),
            Check(
                "in_range", "o_totalprice", lo=0, hi=300000,
                min_pass_fraction=0.95,
            ),
            Check("matches", "o_orderpriority", pattern="^[1-5]-"),
            Check(
                "ref_integrity", "o_custkey",
                parent=customer, parent_col="c_custkey",
            ),
        ],
    )



def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: TVD + chi-square between the
    even/odd-orderkey halves of orders on o_totalprice (32 fixed
    bins). Each side is one scan down to a 32-row bin table; the
    statistics are decimal-exact sums of per-bin terms."""
    from geist_spark.operators.drift import drift_stats

    orders = _t(spark, sf_dir, "orders")
    return drift_stats(
        orders.filter(F.col("o_orderkey") % 2 == 0),
        orders.filter(F.col("o_orderkey") % 2 != 0),
        "o_totalprice",
        0.0,
        500000.0,
        bits=5,
    )



def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-baselined outlier detection: per-event trailing-7-day
    z-score of value within each user, decimal-exact moments, flags
    at |z| > 2. One shuffle on user_id."""
    from geist_spark.operators.relational import anomaly_zscore

    return anomaly_zscore(
        _t(spark, sf_dir, "events"), days=7, z_threshold=2.0, min_n=5
    )


# ------------------------------------------------- model inference + eval


# deterministic 64-dim integer probe head for q_eval_auc (stands in for
# a trained linear probe; Fibonacci-hash spread, values in [-63, 63])
_PROBE_WEIGHTS = [((i * 2654435761) % 127) - 63 for i in range(64)]


def s_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean classifier over embeddings: train per-label
    fixed-point centroids (ONE groupBy, exact long arithmetic), then
    map-only inference against centroid literals; output the confusion
    matrix. The reference has no model surface (its transforms are
    single-event, entity/transform/transformer.go:43-84); this is the
    Spark-native tiny-model/huge-data inference shape."""
    from geist_spark.operators.classify import (
        centroid_classify,
        confusion_matrix,
        train_label_centroids,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_label_centroids(emb, dim=64)
    return confusion_matrix(centroid_classify(emb, cents))


def q_eval_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ROC-AUC of an integer linear probe over embeddings:
    exact Mann-Whitney rank-sum with average-rank ties, one shuffle on
    the group key. Positives = label >= 5, groups = vec_id % 4."""
    from geist_spark.operators.classify import grouped_auc, linear_score_fx

    scored = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 4).cast("int").alias("grp"),
        (F.col("label") >= 5).cast("int").alias("is_pos"),
        linear_score_fx(F.col("embedding"), _PROBE_WEIGHTS).alias("score"),
    )
    return grouped_auc(scored)


def t_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier inference over the
    documents table: tokenize -> md5 hash bucket -> integer weight ->
    per-doc score, all map-only codegen (zero shuffle)."""
    from geist_spark.operators.classify import hashed_linear_score

    return hashed_linear_score(_t(spark, sf_dir, "documents"))


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shape two-nation volume shipping (relational.py)."""
    from geist_spark.operators.relational import volume_shipping

    return volume_shipping(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shape nation market share per year (relational.py)."""
    from geist_spark.operators.relational import market_share

    return market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-shape profit by nation x year (relational.py)."""
    from geist_spark.operators.relational import product_type_profit

    return product_type_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


def q_late_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-shape conditional priority counts on late shipments
    (relational.py)."""
    from geist_spark.operators.relational import late_shipment_priority

    return late_shipment_priority(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


def q_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shape order-count distribution incl. the zero bucket
    (relational.py)."""
    from geist_spark.operators.relational import customer_order_distribution

    return customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shape OR-of-ANDs cross-table predicate revenue
    (relational.py)."""
    from geist_spark.operators.relational import disjunctive_discount_revenue

    return disjunctive_discount_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


def q_deletion_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style deletion planning (relational.py deletion_plan):
    subjects = users with user_id % 13 == 0; per-day rewrite
    worklist."""
    from geist_spark.operators.relational import deletion_plan

    ev = _t(spark, sf_dir, "events")
    subjects = ev.select("user_id").distinct().filter(
        F.col("user_id") % 13 == 0
    )
    return deletion_plan(ev, subjects)


def s_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH tuning curve (operators/similarity.py lsh_tuning_curve):
    candidate-pair counts for 2/3/4 hyperplanes from one coarse-bucket
    join."""
    from geist_spark.operators.similarity import lsh_tuning_curve

    return lsh_tuning_curve(
        _t(spark, sf_dir, "embeddings"), min_planes=2, max_planes=4
    )


def p_reconcile_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage/manifest reconciliation (operators/bucketing.py
    reconcile_files): listing from documents; manifest drops every
    13th file (-> orphans) and invents phantoms (-> missing).
    Summarized per status."""
    from geist_spark.operators.bucketing import reconcile_files

    listing = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("part-"), F.lpad(F.col("doc_id").cast("string"), 6, "0")
        ).alias("path"),
        (F.col("n_chars") * 7 + 100).alias("bytes"),
    )
    manifest = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 13 != 0)
        .select(
            F.concat(
                F.lit("part-"),
                F.lpad(F.col("doc_id").cast("string"), 6, "0"),
            ).alias("path"),
            (F.col("n_chars") * 7 + 100).alias("bytes"),
        )
        .unionByName(
            _t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") % 17 == 0)
            .select(
                F.concat(
                    F.lit("phantom-"),
                    F.lpad(F.col("doc_id").cast("string"), 6, "0"),
                ).alias("path"),
                F.lit(1000).cast("long").alias("bytes"),
            )
        )
    )
    out = reconcile_files(listing, manifest)
    return out.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("total_bytes"),
    )


def q_seasonal_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive baseline error (relational.py
    seasonal_naive_error), week-over-week hourly counts."""
    from geist_spark.operators.relational import seasonal_naive_error

    return seasonal_naive_error(_t(spark, sf_dir, "events"))


def d_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: how much of the corpus sits
    in dup families of each size — the dedup-savings estimate
    (sum((size-1) * n_clusters) docs removable) and the hot-cluster
    alarm, straight off the cluster labels, two metadata-sized
    group-bys past them."""
    from geist_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        minhash_lsh_pairs(docs, num_hashes=16, bands=4, k=3)
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("size")
    )
    return sizes.groupBy("size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-/last-touch attribution for purchases (relational.py
    touch_attribution), summarized per (first, last) touch pair."""
    from geist_spark.operators.relational import touch_attribution

    out = touch_attribution(_t(spark, sf_dir, "events"))
    return out.groupBy("first_touch", "last_touch").agg(
        F.count(F.lit(1)).alias("n_conversions")
    )


def d_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood ER (operators/dedup.py
    sorted_neighborhood_pairs): zero-padded sequential names + an
    appended-char typo per record — originals, their typos, and
    numeric neighbors all sort within the window."""
    from geist_spark.operators.dedup import sorted_neighborhood_pairs

    base = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.lit("user"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
        ).alias("nm"),
    )
    orig = base.select(
        (F.col("c_custkey") * 2).alias("rec_id"), F.col("nm").alias("name")
    )
    typo = base.select(
        (F.col("c_custkey") * 2 + 1).alias("rec_id"),
        F.concat(F.col("nm"), F.lit("x")).alias("name"),
    )
    return sorted_neighborhood_pairs(
        orig.unionByName(typo), window=3, max_dist=2, prefix_len=8
    )


def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (operators/quality.py
    profile_table) over customer's int/string columns (float and
    timestamp string forms differ across engines, so the profile
    query sticks to the stable types; the operator itself takes any)."""
    from geist_spark.operators.quality import profile_table

    return profile_table(
        _t(spark, sf_dir, "customer"),
        cols=["c_custkey", "c_name", "c_nationkey", "c_mktsegment"],
    )


def s_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding centroid drift (operators/similarity.py
    source_centroid_drift): exact fixed-point centroids, pairwise
    cosine over the metadata-grain centroid table."""
    from geist_spark.operators.similarity import source_centroid_drift

    return source_centroid_drift(
        _t(spark, sf_dir, "embeddings"), _t(spark, sf_dir, "documents")
    )


def t_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate vs the corpus's own top-100 vocabulary
    (operators/text.py corpus_oov_rate), with a singleton 'OCR-noise' token
    appended per doc (doc_id%3 copies) so the tail actually exists —
    the raw corpus vocabulary is tiny enough to fit the head."""
    from geist_spark.operators.text import corpus_oov_rate

    m = (F.col("doc_id") % 3).cast("int")
    noise = F.array_join(
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: F.concat(
                F.lit("zq"),
                F.col("doc_id").cast("string"),
                F.lit("x"),
                i.cast("string"),
            ),
        ),
        " ",
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(m > 0, F.concat(F.col("text"), F.lit(" "), noise))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return corpus_oov_rate(docs)


def s_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (operators/similarity.py
    hard_negative_mining) over embeddings with re-uploaded duplicates
    injected (vec_id%10==0 appears twice) — the duplicate is the
    nearest neighbor and MUST be excluded from the negatives."""
    from geist_spark.operators.similarity import hard_negative_mining

    emb = _t(spark, sf_dir, "embeddings")
    dupes = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        *[c for c in emb.columns if c != "vec_id"],
    )
    return hard_negative_mining(
        emb.unionByName(dupes), query_ids=list(range(10)), k=5
    )


def p_datasheet_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version drift (operators/prep.py datasheet_diff): old =
    documents, new = every-7th-doc dropped + re-upload of every 10th —
    the diff must show per-source/per-lang doc and token deltas."""
    from geist_spark.operators.prep import datasheet_diff

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 7 != 0).unionByName(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            "text",
            "lang",
            "source",
            "n_chars",
        )
    )
    return datasheet_diff(docs, new)


def d_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware corpus dedup (operators/dedup.py keep_best):
    minhash clusters, survivor = longest doc (n_chars), ties by min
    id."""
    from geist_spark.operators.dedup import keep_best, minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, k=3)
    return keep_best(docs, pairs, score_col="n_chars").select(
        "doc_id", "n_chars"
    )


def p_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sampling (operators/split.py
    importance_sample): weight = n_chars, target fraction 0.3;
    per-source kept counts."""
    from geist_spark.operators.split import importance_sample

    kept = importance_sample(
        _t(spark, sf_dir, "documents"),
        weight_col="n_chars",
        target_fraction=0.3,
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("kept_chars"),
    )


def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal load profile (relational.py seasonality_profile)."""
    from geist_spark.operators.relational import seasonality_profile

    return seasonality_profile(_t(spark, sf_dir, "events"))


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type percentile winsorization (relational.py winsorize)."""
    from geist_spark.operators.relational import winsorize

    return winsorize(_t(spark, sf_dir, "events"))


def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented triangle counting (operators/graph.py
    triangle_counts) over the same md5-derived link graph as
    q_pagerank."""
    from geist_spark.operators.graph import triangle_counts

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        F.col("doc_id").alias("src"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n
        ).alias("dst"),
    )
    return triangle_counts(edges)


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level event-type co-occurrence pairs (relational.py
    session_cooccurrence)."""
    from geist_spark.operators.relational import session_cooccurrence

    return session_cooccurrence(_t(spark, sf_dir, "events"))


def q_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per user (operators/drift.py
    cusum_alarms): sequential max-recurrence fold in codegen; slack
    ~0.5 sigma, threshold ~4 sigma of the value distribution."""
    from geist_spark.operators.drift import cusum_alarms

    return cusum_alarms(
        _t(spark, sf_dir, "events"), slack=25.0, threshold=200.0
    )


def q_robust_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-scores (relational.py robust_anomaly):
    outlier-resistant counterpart to q_anomaly_zscore."""
    from geist_spark.operators.relational import robust_anomaly

    return robust_anomaly(_t(spark, sf_dir, "events"))


def s_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH top-k (operators/similarity.py
    lsh_multiprobe_topk): queries probe own + Hamming-1 buckets; only
    the tiny query side fans out."""
    from geist_spark.operators.similarity import lsh_multiprobe_topk

    return lsh_multiprobe_topk(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=5,
        num_planes=4,
    )


def q_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration bins (operators/classify.py calibration_bins) of
    the integer linear probe: fixed-width exact-integer score bins,
    per-bin positives and rate."""
    from geist_spark.operators.classify import calibration_bins, linear_score_fx

    scored = _t(spark, sf_dir, "embeddings").select(
        (F.col("label") >= 5).cast("int").alias("is_pos"),
        linear_score_fx(F.col("embedding"), _PROBE_WEIGHTS).alias("score"),
    )
    return calibration_bins(scored, n_bins=10)


def p_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training export in ONE lazy plan: declarative prep
    (qualityFilter -> exactDedup via compiler/pipeline.py) ->
    token-budget sequence packing -> deterministic shard assignment of
    bins -> per-shard export summary. The composition a training job
    consumes: shards are stable under re-runs (md5 of (source,bin)),
    bins are a pure function of the data."""
    from geist_spark.compiler.pipeline import compile_pipeline
    from geist_spark.operators.prep import pack_sequences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    pipe = compile_pipeline(
        {
            "steps": [
                {"op": "qualityFilter", "minTokens": 20},
                {"op": "exactDedup"},
            ]
        }
    )
    bins = pack_sequences(pipe(docs), budget_tokens=512)
    shard = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.col("source"), F.col("bin_id").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 8
    ).cast("int")
    return (
        bins.withColumn("shard", shard)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
        )
    )


def t_weak_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snorkel-style weak supervision (operators/classify.py
    weak_label): four keyword labeling functions voting tech vs
    business, majority with deterministic abstain on ties."""
    from geist_spark.operators.classify import weak_label

    docs = _t(spark, sf_dir, "documents")
    out = weak_label(
        docs,
        rules=[
            ("has_spark", F.col("text").contains("spark"), "tech"),
            ("has_table", F.col("text").contains("table"), "tech"),
            ("has_customer", F.col("text").contains("customer"), "business"),
            ("has_order", F.col("text").contains("order"), "business"),
        ],
    )
    return out.select(
        "doc_id",
        "weak_label",
        "n_votes",
        "lf_has_spark",
        "lf_has_table",
        "lf_has_customer",
        "lf_has_order",
    )


def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (operators/text.py inverted_index):
    exact df + capped sorted postings per term."""
    from geist_spark.operators.text import inverted_index

    return inverted_index(
        _t(spark, sf_dir, "documents"), min_df=2, max_postings=20
    )


def p_corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan corpus datasheet (operators/prep.py
    corpus_datasheet): GROUPING SETS over (), (lang), (source)."""
    from geist_spark.operators.prep import corpus_datasheet

    return corpus_datasheet(_t(spark, sf_dir, "documents"))


def p_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold assignment (operators/split.py kfold_split)
    keyed by minhash near-dup cluster representative; per-fold doc and
    token totals."""
    from geist_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs, tokens
    from geist_spark.operators.split import kfold_split

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup_clusters(
        minhash_lsh_pairs(docs, num_hashes=16, bands=4, k=3)
    )
    out = kfold_split(docs, k=5, clusters=clusters)
    return out.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("total_tokens"),
    )


def p_spec_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative prep pipeline (compiler/pipeline.py): a JSON step
    list — fixText -> exactDedup -> qualityFilter -> sourceQuota —
    compiled into ONE lazy plan and run over a re-upload-perturbed
    corpus (every 10th doc appears twice; exactDedup must collapse
    them). Output: per-source survivor count + token total."""
    from geist_spark.compiler.pipeline import compile_pipeline
    from geist_spark.operators.dedup import tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    dupes = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "source"
    )
    pipe = compile_pipeline(
        {
            "steps": [
                {"op": "fixText"},
                {"op": "exactDedup"},
                {"op": "qualityFilter", "minTokens": 20},
                {"op": "sourceQuota", "maxDocsPerSource": 40},
            ]
        }
    )
    out = pipe(docs.unionByName(dupes))
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(F.col("text")))).alias("total_tokens"),
    )


def q_backfill_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Digest-diff backfill planning (operators/integrity.py
    partition_digests + backfill_plan): per-day digests of events vs a
    deterministically perturbed copy (one day-class removed, one
    relabeled, one shifted +10y = added) — the planner must emit
    exactly the removed/changed/added/unchanged statuses."""
    from geist_spark.operators.integrity import backfill_plan, partition_digests

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    doy = F.dayofyear("ts")
    changed = ev.withColumn(
        "event_type",
        F.when(
            doy % 11 == 1, F.concat(F.col("event_type"), F.lit("_v2"))
        ).otherwise(F.col("event_type")),
    ).filter(doy % 11 != 0)
    added = ev.filter(doy % 11 == 2).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 3650 DAYS")
    )
    new_ev = changed.unionByName(added)

    cols = ["event_id", "user_id", "event_type"]
    part = F.to_date("ts").cast("string")
    old_d = partition_digests(ev, part, cols)
    new_d = partition_digests(new_ev, part, cols)
    return backfill_plan(old_d, new_d)


def m_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed multimodal pipeline: binary media payloads ->
    mapInPandas embedding stage (operators/multimodal.py embed_stub,
    where a CLIP-style encoder slots in) -> hyperplane-LSH near-dup
    pairs (operators/similarity.py). Exact-duplicate payloads land at
    cosine 1.0; the md5 embedding arithmetic replays in SQL."""
    from geist_spark.operators.multimodal import documents_as_media, embed_stub
    from geist_spark.operators.similarity import embedding_near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    # re-upload simulation: every 10th payload appears again under a
    # new media id — the pairs the pipeline must find
    dupes = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text", "lang",
        "source", "n_chars",
    )
    media = documents_as_media(docs.unionByName(dupes))
    emb = embed_stub(media, dim=16)
    return embedding_near_dup_pairs(
        emb, threshold=0.999, num_planes=4, dim=16
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (operators/quality.py
    k_anonymity_report) over customer quasi-identifiers
    (mktsegment, nationkey), sensitive = acctbal sign bucket."""
    from geist_spark.operators.quality import k_anonymity_report

    cust = _t(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .otherwise(F.lit("pos"))
        .alias("bal_bucket"),
    )
    return k_anonymity_report(
        cust,
        quasi_cols=["c_mktsegment", "c_nationkey"],
        sensitive_col="bal_bucket",
        k=10,
    )


def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view maintenance (relational.py mergeable_rollup +
    merge_rollups): events split at a cutoff into two disjoint partial
    states, merged — the oracle recomputes from scratch, proving
    merge(state_old, state_new) == full recompute."""
    from geist_spark.operators.relational import (
        merge_rollups,
        mergeable_rollup,
    )

    ev = _t(spark, sf_dir, "events")
    cutoff = "1997-06-01"
    old = mergeable_rollup(
        ev.filter(F.col("ts") < cutoff), keys=["event_type"]
    )
    new = mergeable_rollup(
        ev.filter(F.col("ts") >= cutoff), keys=["event_type"]
    )
    merged = merge_rollups(["event_type"], old, new)
    return merged.select(
        "event_type",
        "cnt",
        F.col("sum_v").cast("double").alias("total"),
        "min_ts",
        "max_ts",
    )


def p_compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning (operators/bucketing.py
    compact_plan + compact_summary) over a deterministic synthetic
    file listing (one 'file' per document, dir = source)."""
    from geist_spark.operators.bucketing import compact_plan, compact_summary

    files = _t(spark, sf_dir, "documents").select(
        F.col("source").alias("dir"),
        F.concat(
            F.lit("part-"), F.lpad(F.col("doc_id").cast("string"), 6, "0")
        ).alias("path"),
        (F.col("n_chars") * 7 + 100).alias("bytes"),
    )
    return compact_summary(compact_plan(files, target_bytes=4000))


def a_spec_analytic_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-dialect `window` section (analytic functions): per-user
    (ts, eid)-ordered row_number / lag / decimal-exact running_sum,
    plus declarative keepTopN top-N-per-key — all compiled from the
    spec (compiler/analytics.py apply_window)."""
    from geist_spark.compiler.analytics import apply_analytics
    from geist_spark.compiler.transform import compile_transform
    from geist_spark.spec.model import parse_spec

    spec = parse_spec(
        {
            "namespace": "bench",
            "streamIdSuffix": "anwin",
            "version": 1,
            "description": "analytic window",
            "source": {"type": "geistapi"},
            "transform": {
                "extractFields": [
                    {
                        "fields": [
                            {"id": "eid", "jsonPath": "event_id", "type": "integer"},
                            {"id": "uid", "jsonPath": "user_id", "type": "integer"},
                            {"id": "etype", "jsonPath": "event_type"},
                            {"id": "amount", "jsonPath": "value", "type": "float"},
                            {"id": "ts", "jsonPath": "ts", "type": "isoTimestamp"},
                        ]
                    }
                ],
                "window": {
                    "partitionBy": ["uid"],
                    "orderBy": [{"field": "ts"}, {"field": "eid"}],
                    "functions": [
                        {"fn": "row_number", "alias": "rn"},
                        {
                            "fn": "lag",
                            "field": "etype",
                            "offset": 1,
                            "alias": "prev_type",
                        },
                        {
                            "fn": "running_sum",
                            "field": "amount",
                            "alias": "cum_amount",
                        },
                    ],
                    "keepTopN": 5,
                },
            },
            "sink": {"type": "void"},
        }
    )
    # _fan: the compiled transform does per-row JSON parsing and the
    # events table is a single parquet split (g_timeconv rationale)
    ev = _fan(_t(spark, sf_dir, "events")).select(
        F.to_json(
            F.struct(
                "event_id",
                "user_id",
                "event_type",
                "value",
                F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").alias("ts"),
            )
        ).alias("value")
    )
    out = apply_analytics(
        compile_transform(spec).apply(ev, value_col="value"), spec.transform
    )
    return out.select("uid", "eid", "rn", "prev_type", "cum_amount")


def p_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware contrastive negative sampling (operators/split.py
    sample_negatives): md5-derived probes filtered against the minhash
    near-dup clusters, first k survivors per anchor by probe index."""
    from geist_spark.operators.dedup import dedup_clusters, minhash_lsh_pairs
    from geist_spark.operators.split import sample_negatives

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, num_hashes=16, bands=4, k=3)
    clusters = dedup_clusters(pairs)
    return sample_negatives(docs, clusters, k=3, oversample=3)


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (operators/graph.py) over a deterministic
    md5-derived link graph on doc_ids (3 out-edges per doc). All-long
    arithmetic, so the 3-iteration oracle replay is bit-exact."""
    from geist_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        F.col("doc_id").alias("src"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n
        ).alias("dst"),
    )
    return pagerank(edges, iters=3)


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/graph.py kcore) over the same
    md5 link graph as q_pagerank: iterative peeling to the k=4 core;
    the oracle unrolls 8 peel rounds (measured convergence <= 3 at
    both test SFs; extra rounds are fixed-point no-ops)."""
    from geist_spark.operators.graph import kcore

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    edges = docs.select(
        "doc_id",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j"),
    ).select(
        F.col("doc_id").alias("src"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit("|"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % n
        ).alias("dst"),
    )
    return kcore(edges, k=4, max_iterations=20)


def t_fix_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ftfy-lite mojibake repair (operators/text.py fix_text) over
    documents with deterministic mojibake + control chars injected
    into 2 of every 3 docs (doc_id%3==0 stays clean, proving the
    changed flag goes both ways)."""
    from geist_spark.operators.text import fix_text

    moji = (
        " cafÃ© itâ€™s here"
        "â€¦ " + chr(7) + " end"
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(moji)))
        .alias("text"),
    )
    out = fix_text(docs)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "changed"
    )


# markdown fixture template: three literal segments around the two
# doc_id interpolations and the trailing doc text; the SAME constants
# render the Spark concat and the oracle's || chain, and the strip
# chain itself is generated from text.MARKDOWN_STRIP_RULES on both
# sides ($1 vs \\1 group rendering) — a genuine dual implementation,
# not an identity oracle.
_MD_SEG_A = "# Doc "
_MD_SEG_B = "\n\nIntro [anchor "
_MD_SEG_C = (
    "](http://ex.example/a) and ![alt text](img.png) and"
    " [rtext][r1].\n\n[r1]: http://ref.example/\n\n**bold** *ital*"
    " `span` snake_case __dd__\n\n- item one\n- item two\n"
    "12. twelfth\n\n> quote\n\n```js\nvar x = 1;\n```\n\n---\n\n"
    "Setext\n===\n\nauto <https://a.example/z> and <em>tag</em>\n\n"
)

_MD_COUNTS = [
    ("n_links", r"\]\("),
    ("n_headers", r"(?m)^ {0,3}#{1,6} "),
    ("n_code_spans", r"`[^`\n]+`"),
]


def t_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> plain text (operators/text.py markdown_strip, a
    pure-JVM regexp_replace chain): each doc is wrapped in a markdown
    template exercising every rule — ATX header, inline/image/
    reference links + definition line, bold/italic/inline code,
    snake_case and __dunder__ emphasis edges, unordered + ordered
    lists, blockquote, a kept-content code fence, horizontal rule,
    setext underline, autolink, inline HTML — then stripped. The
    oracle rebuilds the SAME template and replays the SAME rule chain
    in DuckDB (RE2) rendered from MARKDOWN_STRIP_RULES, so any
    Java-vs-RE2 semantic drift in a rule, rule order, or count regex
    hash-mismatches."""
    from geist_spark.operators.text import markdown_strip

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    md = F.concat(
        F.lit(_MD_SEG_A), did, F.lit(_MD_SEG_B), did,
        F.lit(_MD_SEG_C), F.col("text"),
    )
    return markdown_strip(docs.select("doc_id", md.alias("text")))


def _geohash_cells_oracle() -> str:
    from geist_spark.operators.geo import geohash_oracle_sql

    lat = ("('0x' || substr(md5('lat|' || CAST(event_id AS VARCHAR)),"
           " 1, 8))::BIGINT % 120000001 - 60000000")
    lon = ("('0x' || substr(md5('lon|' || CAST(event_id AS VARCHAR)),"
           " 1, 8))::BIGINT % 360000001 - 180000000")
    g7 = geohash_oracle_sql(lat, lon, 7)
    g4 = geohash_oracle_sql(lat, lon, 4)
    return (
        "SELECT event_id, " + g7 + " AS g7, " + g4 + " AS g4 "
        "FROM events"
    )


def _markdown_oracle() -> str:
    from geist_spark.operators.text import MARKDOWN_STRIP_RULES

    expr = "t"
    for pat, rep in MARKDOWN_STRIP_RULES:
        p = pat.replace("'", "''")
        r = rep.replace("{1}", "\\1")
        expr = (
            "regexp_replace(" + expr + ", '" + p + "', '" + r + "', 'g')"
        )
    counts = ", ".join(
        "CAST(len(regexp_extract_all(t, '"
        + pat.replace("'", "''")
        + "')) AS INTEGER) AS " + name
        for name, pat in _MD_COUNTS
    )
    tmpl = (
        "'" + _MD_SEG_A.replace("'", "''")
        + "' || CAST(doc_id AS VARCHAR) || '"
        + _MD_SEG_B.replace("'", "''")
        + "' || CAST(doc_id AS VARCHAR) || '"
        + _MD_SEG_C.replace("'", "''") + "' || text"
    )
    return (
        "WITH md AS (SELECT doc_id, " + tmpl + " AS t FROM documents) "
        "SELECT doc_id, trim(" + expr + ") AS plain, " + counts
        + " FROM md"
    )


def d_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join (operators/dedup.py
    fuzzy_match_pairs): md5-derived 'user <hex10>' names + a
    deterministic one-char-deletion typo per record; q-gram blocking
    must recover every (original, typo) pair at edit distance 1, with
    the shared 'user ' prefix grams dropped by the frequency cap."""
    from geist_spark.operators.dedup import fuzzy_match_pairs

    base = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.concat(
            F.lit("user "),
            F.substring(F.md5(F.col("c_custkey").cast("string")), 1, 10),
        ).alias("nm"),
    )
    p = (F.col("c_custkey") % 15) + 1
    orig = base.select(
        (F.col("c_custkey") * 2).alias("rec_id"), F.col("nm").alias("name")
    )
    typo = base.select(
        (F.col("c_custkey") * 2 + 1).alias("rec_id"),
        F.concat(
            F.col("nm").substr(F.lit(1), p - 1),
            F.col("nm").substr(p + 1, F.lit(99)),
        ).alias("name"),
    )
    return fuzzy_match_pairs(
        orig.unionByName(typo), id_col="rec_id", text_col="name", max_dist=2
    )


def s_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search (operators/similarity.py
    pq_train_encode + pq_adc_topk): per-subspace fixed-point Lloyd
    codebooks, m-code encoding, table-lookup scoring. All-long
    arithmetic end to end, so the oracle replay is bit-exact."""
    from geist_spark.operators.similarity import pq_adc_topk, pq_train_encode

    emb = _t(spark, sf_dir, "embeddings")
    books, codes = pq_train_encode(emb, m=4, k=16, iters=2)
    return pq_adc_topk(emb, codes, books, query_ids=list(range(10)), k_top=5)


def t_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/CCNet exact line-level dedup (operators/text.py line_dedup)
    over documents with deterministic boilerplate lines injected (a
    constant cookie banner + a doc_id%7 footer — the corpus text has
    no newlines of its own); the original text rides as the middle
    line, so real exact-duplicate docs lose it too."""
    from geist_spark.operators.text import line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit("Shared cookie banner: accept all cookies to continue"),
            F.col("text"),
            F.concat(
                F.lit("footer section number "),
                (F.col("doc_id") % 7).cast("string"),
            ),
        ).alias("text"),
    )
    out = line_dedup(docs)
    # hash the (long) rebuilt text so the driver compares a scalar
    return out.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        "n_lines_kept",
        "n_lines_dropped",
    )


def s_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the embedding corpus (exact baseline
    path; the scale path feeds LSH/IVF candidate pairs instead)."""
    from geist_spark.operators.similarity import mutual_knn_graph

    return mutual_knn_graph(_t(spark, sf_dir, "embeddings"), k=5)


def d_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (sub-document dup
    detection that symmetric Jaccard misses)."""
    from geist_spark.operators.dedup import ngram_containment_pairs

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"),
        k=3,
        threshold_pct=80,
        max_shingle_freq=200,
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE totals (all dim subsets) with grouping level ids."""
    from geist_spark.operators.relational import cube_report

    return cube_report(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        "l_quantity",
    )


def p_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum interleave order (difficulty = token count) with the
    global position computed arithmetically — no global-sort window."""
    from geist_spark.operators.dedup import tokens
    from geist_spark.operators.prep import curriculum_interleave

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return curriculum_interleave(
        docs, "n_tokens", n_buckets=10, bucket_width=32
    )


def s_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed IVF+PQ ANN (the FAISS IVFPQ architecture): trained
    coarse cells restrict candidates, PQ ADC distance ranks them."""
    from geist_spark.operators.similarity import ivf_pq_topk

    return ivf_pq_topk(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k_top=5,
        n_cells=8,
        ivf_iters=2,
        nprobe=2,
        m=4,
        k_codes=16,
        pq_iters=2,
    )


def q_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot of order revenue with per-cell counts: priority rows
    x pinned status columns (relational.pivot_table with_counts=True —
    ONE conditional-agg groupBy, count(*) FILTER semantics, no
    discovery scan)."""
    from geist_spark.operators.relational import pivot_table

    wide = pivot_table(
        _t(spark, sf_dir, "orders"),
        ["o_orderpriority"],
        "o_orderstatus",
        ["O", "F", "P"],
        "o_totalprice",
        with_counts=True,
    )
    return wide.select(
        "o_orderpriority",
        *[
            c
            for v in ("O", "F", "P")
            for c in (
                F.col(f"{v}_sum").alias(f"sum_{v}"),
                F.col(f"{v}_n").alias(f"n_{v}"),
            )
        ],
    )


def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lag-7 autocorrelation of per-type daily counts
    (operators/drift.py autocorrelation): integer n^2-scaled centered
    products, one final IEEE division."""
    from geist_spark.operators.drift import autocorrelation

    return autocorrelation(_t(spark, sf_dir, "events"), lag=7)


def t_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade + Flesch reading ease in exact micro-scaled
    long arithmetic (operators/text.py readability) — the standard
    text-difficulty features of corpus quality filters."""
    from geist_spark.operators.text import readability

    return readability(_t(spark, sf_dir, "documents"))


def s_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein
    1998) — greedy relevance-vs-redundancy selection in exact
    micro-scaled long arithmetic; the oracle replays the full greedy
    chain as unrolled CTE steps."""
    from geist_spark.operators.similarity import mmr_select

    return mmr_select(
        _t(spark, sf_dir, "embeddings"), query_id=0, k=5,
        lam_num=7, lam_den=10,
    )


def s_ivf_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-encoding IVFPQ (the production FAISS recipe): PQ
    codes quantize x - coarse_centroid(x) instead of raw vectors;
    ADC tables are per-(query, probed cell). Closes ivf_pq_topk's
    documented raw-vector delta."""
    from geist_spark.operators.similarity import ivf_pq_residual_topk

    return ivf_pq_residual_topk(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k_top=5,
        n_cells=8,
        ivf_iters=2,
        nprobe=2,
        m=4,
        k_codes=16,
        pq_iters=2,
    )


def d_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2022 span REMOVAL (the paper's actual output): every
    >=40-char shared span is cut from the higher-id doc; one row per
    input doc with the rebuilt text's md5 + removal counts."""
    from geist_spark.operators.dedup import remove_dup_spans

    return remove_dup_spans(_t(spark, sf_dir, "documents"), min_len=40)


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / theta-sketch audience overlap: hour-grain K-minimum-value
    sketches of user_id merged to event_type grain, then pairwise
    distinct + INTERSECTION estimates between types — the set-
    expression question HLL cannot answer from pre-built sketches.
    k=256 pinned: sf0.01 (~150 users/type) exercises the exact
    retained-set regime, sf0.1 (~1500) the (K-1)*2^32/h_K estimator;
    the oracle replays the identical md5 sketch at type grain, which
    simultaneously checks that the hourly merge path equals a direct
    rollup."""
    from geist_spark.operators.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_overlap,
        kmv_rollup,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "hour", F.date_trunc("hour", "ts")
    )
    hourly = kmv_rollup(ev, ["hour", "event_type"], "user_id", k=256)
    # the merged sketch is tiny (|types|*K rows) but feeds SIX lineage
    # branches (est a/b, theta a/b, join sides) — checkpoint eagerly so
    # the events scan + sketch build runs once, not six times
    merged = kmv_merge(hourly, ["event_type"], k=256).localCheckpoint(
        eager=True
    )
    est = kmv_estimate(merged, ["event_type"], k=256)
    ov = kmv_overlap(merged, "event_type", k=256)
    return (
        ov.join(
            F.broadcast(est.select(
                F.col("event_type").alias("group_a"),
                F.col("distinct_est").alias("est_a"),
            )),
            "group_a",
        )
        .join(
            F.broadcast(est.select(
                F.col("event_type").alias("group_b"),
                F.col("distinct_est").alias("est_b"),
            )),
            "group_b",
        )
        .select(
            F.col("group_a").alias("type_a"),
            F.col("group_b").alias("type_b"),
            "est_a",
            "est_b",
            "n_common",
            "intersect_est",
        )
    )


def p_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-epoch reshuffle manifest for training-data
    loading: equal-width md5-hash ranges give each (epoch, batch) its
    row/byte totals with NO global sort or row_number (the
    single-reducer trap); n_stayers audits that epochs actually
    decorrelate (e=0: all rows 'stay'; e>0: ~n/n_batches). Map-only
    fan-out + one 24-group partial agg."""
    from geist_spark.operators.split import epoch_shuffle_manifest

    return epoch_shuffle_manifest(
        _t(spark, sf_dir, "documents"),
        n_epochs=3,
        n_batches=8,
        key="doc_id",
        size_col="n_chars",
    )


def s_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote label probe over the embeddings table: 20
    held-out queries classified by their 10 cosine-nearest labeled
    neighbors — the non-parametric sibling of s_centroid_classify
    (same broadcast-query / corpus-single-pass plan as
    s_cosine_topk)."""
    from geist_spark.operators.classify import knn_classify

    return knn_classify(
        _t(spark, sf_dir, "embeddings"), query_ids=list(range(20)), k=10
    )


def s_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-truncation audit: recall@10 of 16-dim
    prefix retrieval vs the full 64-dim exact top-10 — the measurement
    behind 'can I cut my ANN index cost 4x?'."""
    from geist_spark.operators.similarity import matryoshka_recall

    return matryoshka_recall(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=10,
        trunc_dim=16,
    )


def t_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the documents table: top-20
    stopword-delimited phrases by exact-integer degree/freq scoring
    (vocabulary-grain joins; docs collapse to phrase grain in one
    agg)."""
    from geist_spark.operators.text import rake_keywords

    return rake_keywords(_t(spark, sf_dir, "documents"))


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over orders (relational.py
    association_rules): baskets = orders, items = part brands; directed
    rules with exact-integer support/confidence/lift — the affinity
    ranking behind recommender feature-crosses. Pair self-join at
    basket grain (merge-hinted), vocabulary-grain count joins
    broadcast."""
    from geist_spark.operators.relational import association_rules

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(
        F.broadcast(part), li.l_partkey == part.p_partkey
    ).select("l_orderkey", "p_brand")
    return association_rules(
        baskets, "l_orderkey", "p_brand", min_support=50
    )


def s_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN label-noise audit over a 100-vector panel
    (operators/classify.py label_noise_audit): suspects are rows whose
    10 nearest OTHER embeddings out-vote their own label —
    confident-learning-style mislabel triage before training."""
    from geist_spark.operators.classify import label_noise_audit

    return label_noise_audit(
        _t(spark, sf_dir, "embeddings"), audit_ids=list(range(100)), k=10
    )


def q_zone_map_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data-skipping audit (operators/bucketing.py zone_map +
    zone_prune): per-file min/max spans of l_shipdate under TWO
    simulated layouts — ingest order (l_orderkey range bins) vs time
    partitioning (ship month) — with the scan/skip decision for one
    Q6-shape date predicate. Quantifies what the layout buys: the
    ingest layout scans every file, the time layout skips all but the
    predicate's months. Metadata-grain end to end (one partial-agg
    shuffle per layout)."""
    from geist_spark.operators.bucketing import zone_map, zone_prune

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # both layouts ride ONE scan: each row explodes into its two
    # (layout-prefixed) file names before the metadata-grain agg — at
    # 100 TB the scan dominates, so 1 scan + 2x shuffle fan-out beats
    # two full scans (the shuffle input is still just 2 rows of
    # (file_id, ts) per lineitem row)
    lay = li.select(
        F.explode(
            F.array(
                F.concat(
                    F.lit("ingest/"),
                    F.floor(F.col("l_orderkey") / 2048).cast("string"),
                ),
                F.concat(
                    F.lit("month/"), F.date_format("l_shipdate", "yyyy-MM")
                ),
            )
        ).alias("fid"),
        "l_shipdate",
    )
    z = zone_map(lay, F.col("fid"), ["l_shipdate"])
    pred = [("l_shipdate", "1995-06-01 00:00:00", "1995-08-31 23:59:59")]
    return zone_prune(z, pred).select(
        F.split("file_id", "/")[0].alias("layout"),
        "file_id",
        "n_rows",
        "min_l_shipdate",
        "max_l_shipdate",
        "nulls_l_shipdate",
        "scan_needed",
    )


def t_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keywords over the documents table (operators/text.py
    textrank_keywords): adjacency co-occurrence graph of non-stopword
    tokens ranked by graph.pagerank's fixed-point arithmetic; top-20
    words. The graph-centrality complement to t_rake_keywords."""
    from geist_spark.operators.text import textrank_keywords

    return textrank_keywords(_t(spark, sf_dir, "documents"))


def s_rp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign-projection recall audit
    (operators/similarity.py rp_recall): recall@10 of 16-dim
    Rademacher-projected retrieval vs the full 64-dim exact top-10 —
    matryoshka's generic sibling for embeddings without prefix
    training. Projection is map-only exact-integer arithmetic."""
    from geist_spark.operators.similarity import rp_recall

    return rp_recall(
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k=10,
        dim=64,
        out_dim=16,
    )


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Holt level+trend forecast over daily counts
    (operators/drift.py holt_forecast): scaled-long smoothing
    recurrences with exact floor division, folded sequentially in
    codegen — the where-is-load-heading companion to
    q_seasonality."""
    from geist_spark.operators.drift import holt_forecast

    return holt_forecast(_t(spark, sf_dir, "events"))


def s_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset selection (operators/similarity.py
    coreset_select): exact k-means cells, then the 10 most central
    vectors per cell — budgeted diversity subsetting where a global
    top-n would collapse onto the densest cluster. Selection is one
    WindowGroupLimit-bounded window over the assignment table."""
    from geist_spark.operators.similarity import coreset_select

    return coreset_select(
        _t(spark, sf_dir, "embeddings"), n_per_cell=10, k=8, iters=2
    )


def q_late_arrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness / watermark-tuning profile (relational.py
    late_arrival_profile): lateness of each event's event-time behind
    the max of all preceding ARRIVAL batches (arrival proxied by the
    monotone event_id), bucketed histogram — the measurement behind
    choosing a withWatermark delay. Batch-grain running max only; the
    corpus is never sorted."""
    from geist_spark.operators.relational import late_arrival_profile

    return late_arrival_profile(
        _t(spark, sf_dir, "events"), batch_size=1000
    )


def d_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (operators/dedup.py novelty_score):
    fraction of a doc's distinct 3-token shingles appearing in no
    other doc — the curation signal between pairwise dedup and
    content-free quality scores. One inverted index, two aggregations,
    no pairwise joins."""
    from geist_spark.operators.dedup import novelty_score

    return novelty_score(_t(spark, sf_dir, "documents"), k=3)


def q_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer geohash encoding under the oracle gate
    (geo.geohash_col — fixed-point micro-degrees, scale/floor-divide/
    bit-interleave/base32, no IEEE subdivision loop): events get the
    md5-derived coordinates the geo family shares, hashed at
    precisions 7 and 4. The oracle renders the SAME bit plan via
    geo.geohash_oracle_sql, so a scaling, clamp, interleave-order, or
    alphabet bug hash-mismatches; both renderings are pinned to the
    published u4pruydq/ezs42 vectors in tests."""
    from geist_spark.operators.geo import (
        LAT_MOD,
        LAT_SHIFT,
        LON_MOD,
        LON_SHIFT,
        geohash_from_interleaved,
        geohash_interleave,
        md5_micro_coord,
    )

    ev = _t(spark, sf_dir, "events")
    lat = md5_micro_coord("lat|", F.col("event_id"), LAT_MOD, LAT_SHIFT)
    lon = md5_micro_coord("lon|", F.col("event_id"), LON_MOD, LON_SHIFT)
    # staged projections (coords, then interleaved bits, then base32):
    # inlining duplicates the md5 coordinate tree precision*5 times per
    # hash — a 147 KB plan Catalyst re-analyzes every run (see
    # geo.geohash_interleave). Same expressions, same values.
    coords = ev.select("event_id", lat.alias("__lat"), lon.alias("__lon"))
    vals = coords.select(
        "event_id",
        geohash_interleave(F.col("__lat"), F.col("__lon"), 7).alias("__v7"),
        geohash_interleave(F.col("__lat"), F.col("__lon"), 4).alias("__v4"),
    )
    return vals.select(
        "event_id",
        geohash_from_interleaved(F.col("__v7"), 7).alias("g7"),
        geohash_from_interleaved(F.col("__v4"), 4).alias("g4"),
    )


def q_geo_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial radius join + nearest-site reduction
    (operators/geo.py): events get deterministic md5-derived
    micro-degree coordinates, nations are 25 sites; each event within
    5 degrees of a site maps to its nearest one. The broadcast 3x3
    cell join never shuffles the point side; the ORACLE brute-forces
    all point x site pairs, so a hash match also PROVES the grid
    join's completeness (no pair within radius escapes the cell
    neighborhood)."""
    from geist_spark.operators.geo import (
        LAT_MOD, LAT_SHIFT, LON_MOD, LON_SHIFT,
        geo_radius_join, md5_micro_coord, nearest_site,
    )

    points = _t(spark, sf_dir, "events").select(
        "event_id",
        md5_micro_coord(
            "lat|", F.col("event_id"), LAT_MOD, LAT_SHIFT
        ).alias("lat"),
        md5_micro_coord(
            "lon|", F.col("event_id"), LON_MOD, LON_SHIFT
        ).alias("lon"),
    )
    sites = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("site_id"),
        md5_micro_coord(
            "slat|", F.col("n_nationkey"), LAT_MOD, LAT_SHIFT
        ).alias("site_lat"),
        md5_micro_coord(
            "slon|", F.col("n_nationkey"), LON_MOD, LON_SHIFT
        ).alias("site_lon"),
    )
    joined = geo_radius_join(points, sites, radius_micro=5_000_000)
    return nearest_site(joined, "event_id", "site_id")


# ---------------------------------------------------------------- contract


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q1_pricing_summary(spark, SF_DEFAULT)


def _synth_url(doc_id_col: F.Column) -> F.Column:
    """Deterministic messy URL per doc (md5-derived, replayed verbatim
    in the oracle): mixed-case scheme/host, scheme-default and
    non-default ports, trailing-slash variants, tracking params in
    shuffled order, fragments — every normalization rule gets hit."""
    h = F.md5(doc_id_col.cast("string"))

    def d(i: int, n: int = 1) -> F.Column:
        return F.substring(h, i, n)

    scheme = F.when(d(1) < "8", F.lit("https")).otherwise(F.lit("HTTP"))
    port = (
        F.when(
            d(2) < "4",
            F.when(d(1) < "8", F.lit(":443")).otherwise(F.lit(":80")),
        )
        .when(d(2) < "6", F.lit(":8080"))
        .otherwise(F.lit(""))
    )
    host = F.concat(F.lit("WWW.h"), d(3, 2), F.lit(".Example.com"))
    path = F.concat(
        F.lit("/p/"),
        d(5, 3),
        F.when(d(8) < "8", F.lit("/")).otherwise(F.lit("")),
    )
    q = (
        F.when(d(9) < "4", F.lit(""))
        .when(
            d(9) < "8",
            F.concat(F.lit("?id="), d(10, 2), F.lit("&utm_source=feed")),
        )
        .when(
            d(9) < "c",
            F.concat(F.lit("?utm_source=feed&id="), d(10, 2)),
        )
        .otherwise(F.lit("?b=2&a=1&utm_campaign=x"))
    )
    frag = F.when(d(12) < "8", F.concat(F.lit("#sec"), d(13, 1))).otherwise(
        F.lit("")
    )
    return F.concat(scheme, F.lit("://"), host, port, path, q, frag)


def w_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/web.py normalize_url): RFC 3986
    component parse in pure codegen — lower scheme/host, strip default
    ports and fragments, drop tracking params, sort the rest, collapse
    trailing slashes. Map-only: free at any scale."""
    from geist_spark.operators.web import normalize_url, url_host

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", _synth_url(F.col("doc_id"))
    )
    return docs.select(
        "doc_id",
        "url",
        normalize_url(F.col("url")).alias("url_norm"),
        url_host(F.col("url")).alias("host"),
    )


def w_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host crawl census (operators/web.py host_stats): docs,
    distinct canonical URLs, distinct paths, total chars — one
    partial-agg shuffle at host grain; hosts are the skew axis AQE
    splits."""
    from geist_spark.operators.web import host_stats

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", _synth_url(F.col("doc_id"))
    )
    return host_stats(docs)


def w_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level dedup (operators/web.py url_dedup): one survivor per
    normalized URL via the top-1-per-key window — the same page under
    tracking-param/case/port noise collapses to one document."""
    from geist_spark.operators.web import url_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", _synth_url(F.col("doc_id"))
    )
    return url_dedup(docs)


def t_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-corpus n-gram LM training (operators/lm.py
    train_ngram_lm): bigram count table over the lang='en' slice —
    two vocabulary-grain aggregations, shuffling (token, partial-count)
    pairs, never documents (CCNet trains its filter LM on a clean
    reference corpus the same way)."""
    from geist_spark.operators.lm import train_ngram_lm

    docs = _t(spark, sf_dir, "documents")
    _, bi = train_ngram_lm(docs.filter(F.col("lang") == "en"))
    return bi


def t_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (operators/lm.py lm_score),
    log-free: every doc scored against unigram/bigram tables trained
    on the lang='en' slice — oov_rate / bigram_hit_rate /
    avg_freq_digits / min_unigram_cnt, all exact-integer arithmetic
    with single IEEE divisions. One array-side pair explode (no
    window), two broadcast vocab joins, one doc-grain agg."""
    from geist_spark.operators.lm import lm_score, train_ngram_lm

    docs = _t(spark, sf_dir, "documents")
    uni, bi = train_ngram_lm(docs.filter(F.col("lang") == "en"))
    return lm_score(docs, uni, bi)


def t_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/tokenizer.py
    train_bpe): one corpus pass builds the word-frequency table; each
    merge round is a vocabulary-grain pair count + 1-row argmax +
    greedy left-to-right fold merge (F.aggregate — exact BPE
    semantics, replayed in DuckDB with list_reduce). Ties break
    (freq DESC, left ASC, right ASC) so the table is a pure function
    of the data."""
    from geist_spark.operators.tokenizer import train_bpe

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    merges = train_bpe(docs, num_merges=6)
    return local_df(
        spark,
        merges,
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_freq bigint",
    )


def p_lang_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The declarative pipeline's langFilter step under the oracle
    gate (round 8): compile_pipeline({langFilter: [en, de]}) over
    documents — the language argmax as ONE pure-codegen predicate
    (text.predicted_lang_col), zero joins, zero shuffles. The oracle
    replays the universal tokenizer + stopword-overlap argmax +
    fixed-order tiebreak in SQL (the t_language_id machinery) as a
    WHERE clause."""
    from geist_spark.compiler.pipeline import compile_pipeline

    docs = _t(spark, sf_dir, "documents")
    pipe = compile_pipeline(
        {"steps": [{"op": "langFilter", "languages": ["en", "de"]}]}
    )
    return pipe(docs).select("doc_id", "lang", "source")


def t_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (operators/tokenizer.py
    train_unigram — the SentencePiece shape, Kudo 2018) with hard EM
    in exact integer log space: piece cost = BL(total) - BL(cnt)
    (binary digit counts, no float anywhere), Viterbi E-step
    minimizing (cost, piece count, lexicographic pieces), count
    M-step, char-preserving prune. The oracle replays BOTH EM rounds
    exactly: seed substring counts via nested list comprehension,
    costs via length(to_base(x, 2)), and the Viterbi argmin as an
    exhaustive recursive-CTE enumeration of segmentations (exact
    same ordering, tractable because words are short) — a seed-,
    cost-, DP-, tie-break-, or prune-grain bug hash-mismatches."""
    from geist_spark.operators.tokenizer import train_unigram

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    vocab = train_unigram(
        docs, vocab_size=60, rounds=2, max_piece_len=4, seed_size=200
    )
    return local_df(spark, vocab, "piece string, cnt bigint, cost int")


def t_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram segmentation at vocabulary grain (tokenizer.
    unigram_apply): the en-trained vocabulary applied ONCE to the
    corpus's distinct words (exact integer Viterbi, unknown single
    chars at max cost + 1), broadcast back onto the token stream for
    per-doc token/piece counts — the t_bpe_encode shape on the
    unigram axis. Oracle replays training AND the apply-side Viterbi
    exhaustively."""
    from geist_spark.operators.dedup import tokens
    from geist_spark.operators.tokenizer import train_unigram, unigram_apply

    docs = _t(spark, sf_dir, "documents")
    # smaller seed than t_unigram_train: the encode ORACLE enumerates
    # every segmentation of every distinct corpus word exhaustively,
    # and path count grows with the piece table — 80 seeds keep the
    # gate fast while still exercising multi-char Viterbi for real
    vocab = train_unigram(
        docs.filter(F.col("lang") == "en"),
        vocab_size=40, rounds=2, max_piece_len=4, seed_size=80,
    )
    ex = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter((F.col("word") != "") & ~F.col("word").contains("\x01"))
    enc = unigram_apply(ex.select("word").distinct(), vocab).select(
        "word", "n_pieces"
    )
    return (
        ex.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_pieces").alias("n_pieces"),
        )
    )


def t_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE encoding at vocabulary grain (operators/tokenizer.py
    bpe_apply): merges learned on the lang='en' slice, applied ONCE to
    the distinct-word table (never per token occurrence), broadcast
    back onto the token stream for per-doc subword counts."""
    from geist_spark.operators.dedup import tokens
    from geist_spark.operators.tokenizer import bpe_apply, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs.filter(F.col("lang") == "en"), num_merges=6)
    ex = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("word")
    ).filter((F.col("word") != "") & ~F.col("word").contains("\x01"))
    enc = bpe_apply(ex.select("word").distinct(), merges).select(
        "word", "n_subwords"
    )
    return (
        ex.join(F.broadcast(enc), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("n_subwords").alias("n_subwords"),
        )
    )


def t_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language (subwords per word under the
    en-trained BPE): the metric that exposes tokenizer bias — a
    vocabulary trained on one language fragments the others. Same
    vocabulary-grain encode as t_bpe_encode, final agg at lang grain."""
    from geist_spark.operators.dedup import tokens
    from geist_spark.operators.tokenizer import bpe_apply, train_bpe

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe(docs.filter(F.col("lang") == "en"), num_merges=6)
    ex = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("word")
    ).filter((F.col("word") != "") & ~F.col("word").contains("\x01"))
    enc = bpe_apply(ex.select("word").distinct(), merges).select(
        "word", "n_subwords"
    )
    return (
        ex.join(F.broadcast(enc), "word")
        .groupBy("lang")
        .agg(
            F.sum("n_subwords").alias("n_subwords"),
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("n_subwords") / F.count(F.lit(1))).alias("fertility"),
        )
    )


_TS_PATTERN = [0.0, 1.0, 2.0, 1.0, 0.0]


def q_ts_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity search (operators/relational.py
    ts_pattern_topk): top-10 z-normalized sliding windows across all
    users' value series closest to a spike pattern — every float step
    a fixed sequential chain (the _dot precedent), two-stage top-k
    (per-key prune, then metadata-sized global rank)."""
    from geist_spark.operators.relational import ts_pattern_topk

    return ts_pattern_topk(
        _t(spark, sf_dir, "events"), pattern=_TS_PATTERN, k_top=10
    )


def t_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining (operators/lm.py collocation_lift): bigrams
    ranked by exact-integer lift (the log-free monotone core of PMI)
    over the lang='en' slice — the phrase-discovery pass that feeds
    tokenizer vocabulary curation."""
    from geist_spark.operators.lm import collocation_lift

    docs = _t(spark, sf_dir, "documents").filter(F.col("lang") == "en")
    return collocation_lift(docs, min_count=20)


def q_json_key_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload schema-drift census (operators/quality.py
    json_key_census): per-key event counts + fraction over a JSON
    column whose key set varies (to_json drops null struct fields, so
    conditional fields appear in 1/3 and 1/5 of events) — the profile
    that catches producer field drift before a spec breaks."""
    from geist_spark.operators.quality import json_key_census

    ev = _t(spark, sf_dir, "events")
    payload = F.to_json(
        F.struct(
            F.get_json_object("props", "$.k").cast("long").alias("k"),
            F.when(F.col("event_id") % 3 == 0, F.lit(1)).alias("beta"),
            F.when(F.col("event_id") % 5 == 0, F.col("value")).alias(
                "gamma"
            ),
        )
    )
    return json_key_census(ev.select(payload.alias("payload")))


def g_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `urlNormalize` extractFields TYPE (engine extension in the
    reference's own dialect, same pattern as the userAgent type): a
    spec-declared field canonicalizes URLs in the compiled transform —
    pure codegen inside the same single projection as every other
    typed extraction. Events carry the md5-derived messy URL."""
    # _fan: md5-derived URL synthesis + the urlNormalize regex chain
    # run per row; widen the single-split scan (g_timeconv rationale)
    ev = _fan(_t(spark, sf_dir, "events"))
    events = ev.select(
        F.to_json(
            F.struct(
                F.col("event_id"),
                F.col("event_type"),
                _synth_url(F.col("event_id")).alias("page"),
            )
        ).alias("value")
    )
    ct = _compile(
        {
            "extractFields": [
                {
                    "fields": [
                        {"id": "eid", "jsonPath": "event_id", "type": "integer"},
                        {"id": "page_raw", "jsonPath": "page"},
                        {
                            "id": "page",
                            "jsonPath": "page",
                            "type": "urlNormalize",
                        },
                    ]
                }
            ]
        }
    )
    return ct.apply(events)


def s_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators/similarity.py hybrid_search): BM25
    lexical and exact-cosine semantic lists fused by Reciprocal Rank
    Fusion in pure integer arithmetic (1e9 div (60+rank) nanos, exact
    BIGINT sums) — queries are docs 0..9 (first-3-token lexical query
    + the doc's own embedding)."""
    from geist_spark.operators.similarity import hybrid_search

    return hybrid_search(
        _t(spark, sf_dir, "documents"),
        _t(spark, sf_dir, "embeddings"),
        query_ids=list(range(10)),
        k_list=10,
        k_top=5,
    )


def d_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-ball near-dup pairs (operators/dedup.py
    simhash_near_dup_pairs, Manku et al. WWW 2007): pigeonhole band
    equi-join candidates + bit_count(xor) confirm — exact-signature
    simhash grouping generalized to hamming <= 1 at 32 bits here
    (Manku's 64-bit config needs a 64-bit token hash first — the
    operator validates bits <= 32; same plan shape either way)."""
    from geist_spark.operators.dedup import simhash_near_dup_pairs

    return simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"), bits=32, bands=2, max_hamming=1
    )


_BM25_QUERIES = [
    (0, ["spark", "table"]),
    (1, ["hash", "merge"]),
    (2, ["window", "sort", "key"]),
]


def t_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (operators/text.py bm25_topk): rational-parameter
    BM25 (k1=6/5, b=3/4) where every per-term contribution is an exact
    BIGINT ratio floored to nanos — deterministic ranking with exact
    integer score sums; top-5 docs for three literal term queries."""
    from geist_spark.operators.text import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), _BM25_QUERIES, k_top=5
    )


def p_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture epoch planning (operators/split.py mixture_plan):
    per-source token budgets from integer weight parts with a
    max-epochs repetition cap — the metadata-grain allocation that
    feeds token_budget_quota/temperature_mix for enforcement. Weight
    parts derive from the source name's trailing digit (replayed in
    SQL)."""
    from geist_spark.operators.dedup import tokens
    from geist_spark.operators.split import mixture_plan

    docs = _t(spark, sf_dir, "documents")
    cs = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).alias("n_tokens")
    )
    w = cs.select(
        "source",
        (F.substring(F.col("source"), -1, 1).cast("long") + 1).alias(
            "weight_parts"
        ),
    )
    return mixture_plan(cs, w, total_tokens=200_000, max_epochs=3)


def p_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative web-corpus pipeline (compiler/pipeline.py): the
    round-2 steps composed spec-first — urlDedup (canonical-URL
    survivor) -> lmQualityFilter (oov_rate gate vs an LM trained on
    the post-dedup lang='en' slice) -> sourceQuota — compiled into one
    lazy plan over documents carrying the md5-derived url column.
    Output: per-source survivor count + char total."""
    from geist_spark.compiler.pipeline import compile_pipeline

    docs = _t(spark, sf_dir, "documents").withColumn(
        "url", _synth_url(F.col("doc_id"))
    )
    pipe = compile_pipeline(
        {
            "steps": [
                {"op": "urlDedup"},
                {"op": "lmQualityFilter", "maxOovRate": 0.2},
                {"op": "sourceQuota", "maxDocsPerSource": 30},
            ]
        }
    )
    return pipe(docs).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-contract query inventory.

    Ordered most-representative-first: the first 50 entries are one
    canonical oracle-checked query per operator family across the
    whole SURVEY \u00a72 surface (reference transforms, sinks, eventsim,
    relational, sketches, streaming specs, dedup, similarity, text,
    multimodal, corpus prep); entries after that are the additional
    per-family variants. All entries are equally real -- ordering only
    encodes representativeness.
    """
    return {
        "g_extract_typed": g_extract_typed,
        "g_exclude_blacklist": g_exclude_blacklist,
        "g_exclude_whitelist": g_exclude_whitelist,
        "g_exclude_multi_cond": g_exclude_multi_cond,
        "g_dispatch_split": g_dispatch_split,
        "g_array_items": g_array_items,
        "g_regexp_payload": g_regexp_payload,
        "g_timeconv": g_timeconv,
        "k_max_versions": k_max_versions,
        "e_eventsim_batch": e_eventsim_batch,
        "u_user_agent": u_user_agent,
        "q1_pricing_summary": q1_pricing_summary,
        "q_revenue_by_nation": q_revenue_by_nation,
        "w_avro_records": w_avro_records,
        "q_latest_event_per_user": q_latest_event_per_user,
        "q_sessionize": q_sessionize,
        # round-10 rotation (r9 VERDICT item 2): the two queries whose
        # self-join was rewritten to the salted shape in r9 (a656f51)
        # move INTO the driver-recorded first 50 so the durable oracle
        # record covers them; the FLAC and markdown document reps they
        # displace move to these queries' old variant slots below —
        # still registered, still benched, just outside the first 50
        "s_embedding_near_dup": s_embedding_near_dup,
        "m_embed_near_dup": m_embed_near_dup,
        "q_asof_join": q_asof_join,
        "q_range_join": q_range_join,
        "q_percentiles": q_percentiles,
        "q_salted_agg": q_salted_agg,
        "q_cdc_apply": q_cdc_apply,
        "q_scd2_history": q_scd2_history,
        "q_funnel": q_funnel,
        "q_rollup_revenue": q_rollup_revenue,
        "q_hll_rollup": q_hll_rollup,
        # round-9 rotation: the document-ingestion representatives
        # (charset sniff chain, full PDF reader incl. Type0/ToUnicode)
        # and the langFilter predicate moved INTO the driver-recorded
        # first 50; the hist/cms/zorder sketch VARIANTS moved to the
        # variants section (q_hll_rollup stays as the sketch rep)
        "w_decode_text": w_decode_text,
        "w_pdf_extract": w_pdf_extract,
        "q_bloom_semi": q_bloom_semi,
        "p_lang_filter": p_lang_filter,
        "a_spec_windowed_agg": a_spec_windowed_agg,
        "a_spec_session_window": a_spec_session_window,
        "a_spec_stream_join": a_spec_stream_join,
        "d_exact_groups": d_exact_groups,
        "d_minhash_pairs": d_minhash_pairs,
        "d_dedup_clusters": d_dedup_clusters,
        "d_keep_canonical": d_keep_canonical,
        "d_incremental_dedup": d_incremental_dedup,
        "s_cosine_topk": s_cosine_topk,
        "s_binary_quantize": s_binary_quantize,
        "s_hamming_topk": s_hamming_topk,
        "s_ann_ivf": s_ann_ivf,
        "s_semantic_dedup": s_semantic_dedup,
        "t_quality_features": t_quality_features,
        "t_winnow_fingerprint": t_winnow_fingerprint,
        "t_winnow_overlap": t_winnow_overlap,
        "t_decontaminate": t_decontaminate,
        "w_url_normalize": w_url_normalize,
        "t_lm_score": t_lm_score,
        "t_bpe_merges": t_bpe_merges,
        "t_unigram_train": t_unigram_train,
        "q_hist_quantiles": q_hist_quantiles,
        "q_cms_heavy_hitters": q_cms_heavy_hitters,
        "q_zorder_cells": q_zorder_cells,
        "t_unigram_encode": t_unigram_encode,
        # multimodal family representative: REAL decode (full
        # Huffman+IDCT oracle) — the byte-stat stub m_media_features
        # moved to the variants section below when real decode landed
        "m_decode_jpeg": m_decode_jpeg,
        "p_training_prep": p_training_prep,
        "p_dataset_split": p_dataset_split,
        "m_media_features": m_media_features,
        "m_frame_sample": m_frame_sample,
        "m_resize": m_resize,
        "d_simhash": d_simhash,
        "d_ngram_jaccard": d_ngram_jaccard,
        "d_distinct_event_keys": d_distinct_event_keys,
        "d_verified_pairs": d_verified_pairs,
        "d_source_overlap": d_source_overlap,
        "d_dup_rate_by_source": d_dup_rate_by_source,
        "m_decode_flac": m_decode_flac,
        "s_ann_lsh": s_ann_lsh,
        "s_ann_recall": s_ann_recall,
        "s_quantize_embeddings": s_quantize_embeddings,
        "s_ivf_train": s_ivf_train,
        "s_ann_ivf_trained": s_ann_ivf_trained,
        "a_spec_sliding_window": a_spec_sliding_window,
        "a_spec_anti_join": a_spec_anti_join,
        "q_revenue_by_brand": q_revenue_by_brand,
        "q_shipping_priority": q_shipping_priority,
        "q_forecast_revenue": q_forecast_revenue,
        "q_returned_items": q_returned_items,
        "q_large_order_customers": q_large_order_customers,
        "q_dormant_customers": q_dormant_customers,
        "q_interval_join": q_interval_join,
        "q_join_size_estimate": q_join_size_estimate,
        "q_session_sequences": q_session_sequences,
        "q_gap_fill": q_gap_fill,
        "q_transition_matrix": q_transition_matrix,
        "q_cohort_retention": q_cohort_retention,
        "q_bloom_anti": q_bloom_anti,
        "q_rolling_features": q_rolling_features,
        "q_salted_join": q_salted_join,
        "q_key_skew": q_key_skew,
        "p_temperature_mix": p_temperature_mix,
        "p_leakage_safe_split": p_leakage_safe_split,
        "p_token_quota": p_token_quota,
        "p_deterministic_sample": p_deterministic_sample,
        "p_stratified_sample": p_stratified_sample,
        "t_language_id": t_language_id,
        "t_token_stats": t_token_stats,
        "t_doc_fingerprint": t_doc_fingerprint,
        "t_top_terms": t_top_terms,
        "t_boilerplate_ngrams": t_boilerplate_ngrams,
        "t_score_normalize": t_score_normalize,
        "t_threshold_sweep": t_threshold_sweep,
        "t_repetition_stats": t_repetition_stats,
        "t_bloom_decontaminate": t_bloom_decontaminate,
        "t_redact_pii": t_redact_pii,
        "p_chunk_documents": p_chunk_documents,
        "p_corpus_pipeline": p_corpus_pipeline,
        "p_rag_pipeline": p_rag_pipeline,
        "p_pack_sequences": p_pack_sequences,
        "p_source_quota": p_source_quota,
        "p_table_digest": p_table_digest,
        "s_centroid_classify": s_centroid_classify,
        "q_eval_auc": q_eval_auc,
        "t_classifier_score": t_classifier_score,
        "q_promo_revenue": q_promo_revenue,
        "q_data_quality": q_data_quality,
        "q_distribution_drift": q_distribution_drift,
        "q_anomaly_zscore": q_anomaly_zscore,
        "d_substring_spans": d_substring_spans,
        "q_cheapest_supplier": q_cheapest_supplier,
        "q_small_qty_revenue": q_small_qty_revenue,
        "q_late_suppliers": q_late_suppliers,
        "q_top_supplier": q_top_supplier,
        "p_shard_manifest": p_shard_manifest,
        "q_volume_shipping": q_volume_shipping,
        "q_market_share": q_market_share,
        "q_product_profit": q_product_profit,
        "q_late_priority": q_late_priority,
        "q_order_count_dist": q_order_count_dist,
        "q_disjunctive_revenue": q_disjunctive_revenue,
        "t_line_dedup": t_line_dedup,
        "s_pq_adc": s_pq_adc,
        "d_fuzzy_match": d_fuzzy_match,
        "t_fix_text": t_fix_text,
        "q_pagerank": q_pagerank,
        "p_negatives": p_negatives,
        "a_spec_analytic_window": a_spec_analytic_window,
        "p_compact_plan": p_compact_plan,
        "q_k_anonymity": q_k_anonymity,
        "q_incremental_rollup": q_incremental_rollup,
        "t_markdown_strip": t_markdown_strip,
        "q_backfill_plan": q_backfill_plan,
        "p_spec_pipeline": p_spec_pipeline,
        "p_kfold": p_kfold,
        "p_corpus_datasheet": p_corpus_datasheet,
        "t_inverted_index": t_inverted_index,
        "t_weak_label": t_weak_label,
        "p_training_export": p_training_export,
        "q_eval_calibration": q_eval_calibration,
        "s_ann_multiprobe": s_ann_multiprobe,
        "q_robust_anomaly": q_robust_anomaly,
        "q_cusum_alarms": q_cusum_alarms,
        "q_cooccurrence": q_cooccurrence,
        "q_triangles": q_triangles,
        "q_seasonality": q_seasonality,
        "q_winsorize": q_winsorize,
        "p_importance_sample": p_importance_sample,
        "d_keep_best": d_keep_best,
        "p_datasheet_diff": p_datasheet_diff,
        "s_hard_negatives": s_hard_negatives,
        "t_oov_rate": t_oov_rate,
        "s_source_drift": s_source_drift,
        "q_profile": q_profile,
        "d_sorted_neighborhood": d_sorted_neighborhood,
        "q_attribution": q_attribution,
        "d_cluster_sizes": d_cluster_sizes,
        "q_seasonal_naive": q_seasonal_naive,
        "p_reconcile_files": p_reconcile_files,
        "s_lsh_tuning": s_lsh_tuning,
        "q_deletion_plan": q_deletion_plan,
        "w_host_stats": w_host_stats,
        "w_url_dedup": w_url_dedup,
        "a_spec_dedup": a_spec_dedup,
        "q_pivot_returnflag": q_pivot_returnflag,
        "a_spec_join": a_spec_join,
        "a_spec_sql": a_spec_sql,
        "t_lm_train": t_lm_train,
        "t_bpe_encode": t_bpe_encode,
        "t_bpe_fertility": t_bpe_fertility,
        "p_web_pipeline": p_web_pipeline,
        "p_mixture_plan": p_mixture_plan,
        "t_bm25_search": t_bm25_search,
        "d_simhash_near_dup": d_simhash_near_dup,
        "s_hybrid_search": s_hybrid_search,
        "g_url_normalize": g_url_normalize,
        "q_json_key_census": q_json_key_census,
        "t_collocations": t_collocations,
        "q_ts_pattern": q_ts_pattern,
        "s_cross_leakage": s_cross_leakage,
        "s_mutual_knn": s_mutual_knn,
        "d_containment": d_containment,
        "q_cube_revenue": q_cube_revenue,
        "p_curriculum": p_curriculum,
        "s_ivf_pq": s_ivf_pq,
        "d_remove_spans": d_remove_spans,
        "q_kmv_overlap": q_kmv_overlap,
        "p_epoch_shuffle": p_epoch_shuffle,
        "s_knn_classify": s_knn_classify,
        "s_matryoshka": s_matryoshka,
        "t_rake_keywords": t_rake_keywords,
        "q_assoc_rules": q_assoc_rules,
        "s_label_noise": s_label_noise,
        "q_zone_map_prune": q_zone_map_prune,
        "t_textrank": t_textrank,
        "s_rp_recall": s_rp_recall,
        "q_holt_forecast": q_holt_forecast,
        "q_geo_nearest": q_geo_nearest,
        "q_geohash_cells": q_geohash_cells,
        "s_coreset": s_coreset,
        "q_late_arrival": q_late_arrival,
        "d_novelty": d_novelty,
        "s_ivf_pq_residual": s_ivf_pq_residual,
        "s_mmr_select": s_mmr_select,
        "t_readability": t_readability,
        "q_autocorr": q_autocorr,
        "q_pivot_revenue": q_pivot_revenue,
        "t_card_scrub": t_card_scrub,
        "q_kcore": q_kcore,
        "t_quality_multilang": t_quality_multilang,
        "s_incremental_embed": s_incremental_embed,
        "m_decode_real": m_decode_real,
        "m_decode_audio": m_decode_audio,
        "m_decode_wav_wide": m_decode_wav_wide,
        "m_decode_aiff": m_decode_aiff,
        "m_mkv_probe": m_mkv_probe,
        "m_decode_g711": m_decode_g711,
        "m_decode_adpcm": m_decode_adpcm,
        "m_exif_extract": m_exif_extract,
        "m_strip_metadata": m_strip_metadata,
        "m_riff_info": m_riff_info,
        "m_strip_wav": m_strip_wav,
        "m_strip_png": m_strip_png,
        "m_mp4_probe": m_mp4_probe,
        "m_id3_extract": m_id3_extract,
        "m_strip_mp3": m_strip_mp3,
        "m_srt_cues": m_srt_cues,
        "m_vtt_cues": m_vtt_cues,
        "m_webp_probe": m_webp_probe,
        "m_flac_probe": m_flac_probe,
        "m_audio_envelope": m_audio_envelope,
        "m_audio_near_dup": m_audio_near_dup,
        "m_media_probe": m_media_probe,
        "w_archive_list": w_archive_list,
        "w_archive_extract": w_archive_extract,
        "m_ogg_probe": m_ogg_probe,
        "m_frame_sample_real": m_frame_sample_real,
        "m_resize_real": m_resize_real,
        "m_decode_png": m_decode_png,
        "m_decode_webp": m_decode_webp,
        "w_office_extract": w_office_extract,
        "k_merge_tombstones": k_merge_tombstones,
        "m_decode_gif": m_decode_gif,
        "m_audio_dsp": m_audio_dsp,
        "m_frame_sample_mjpeg": m_frame_sample_mjpeg,
        "w_html_extract": w_html_extract,
        "w_warc_parse": w_warc_parse,
        "w_sitemap_parse": w_sitemap_parse,
        "w_page_metadata": w_page_metadata,
        "w_pb_decode": w_pb_decode,
        "w_msgpack_decode": w_msgpack_decode,
        "w_yaml_records": w_yaml_records,
        "w_toml_records": w_toml_records,
        "w_email_parse": w_email_parse,
        "w_sqlite_rows": w_sqlite_rows,
        "w_plist_records": w_plist_records,
        # window/groupBy shapes rotated out of the recorded 50
        "q_top3_events_per_user": q_top3_events_per_user,
        "q_hourly_rollup": q_hourly_rollup,
        "q_order_priority_counts": q_order_priority_counts,
        "p_chunk_text": p_chunk_text,
        "w_cdx_index": w_cdx_index,
        "w_crawl_pipeline": w_crawl_pipeline,
        "p_decompress_text": p_decompress_text,
        "w_robots_filter": w_robots_filter,
        "m_decode_tiff": m_decode_tiff,
        "m_decode_tiff_lzw": m_decode_tiff_lzw,
        "m_image_dhash": m_image_dhash,
        "m_dhash_near_dup": m_dhash_near_dup,
    }


def oracle_sql() -> dict[str, str]:
    k_sql = "CAST(json_extract_string(props, '$.k') AS BIGINT)"
    sw_en = "['the','and','of','to','a','in','is','it','that','for']"
    lang_sets = {
        "en": sw_en,
        "de": "['der','die','das','und','ist','von','mit','den','ein','zu']",
        "fr": "['le','la','les','et','de','un','une','est','pour','que']",
        "es": "['el','la','los','las','y','de','un','una','es','por']",
        "zh": "['的','了','是','在','我','有','和','就','不','人']",
        "ja": "['の','は','に','を','が','と','で','て','も','だ']",
        "ko": "['은','는','이','가','을','를','의','에','도','로']",
        "ru": "['и','в','не','на','я','что','с','он','как','это']",
        "ar": "['في','من','على','أن','إلى','هذا','كان','مع','عن','هو']",
        "hi": "['है','और','का','की','के','में','से','को','पर','यह']",
    }
    # universal tokenizer (text.py UNIVERSAL_TOKEN_RE): single
    # Han/kana/Hangul chars + non-space runs; \x{...} is the
    # Java-regex/RE2 common spelling for the CJK base + kana + Hangul
    # syllable blocks
    _cjk = "\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}"
    utoks_sql = (
        f"regexp_extract_all(lower(text), '[{_cjk}]|[^\\s{_cjk}]+')"
    )
    lang_scores = ", ".join(
        f"round(len(list_intersect(dtoks, {s}))::DOUBLE / greatest(len(dtoks), 1), 6) AS score_{lang}"
        for lang, s in lang_sets.items()
    )
    langs = list(lang_sets)
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred_chain = "CASE "
    for lang in langs:
        pred_chain += f"WHEN {best} > 0 AND score_{lang} = {best} THEN '{lang}' "
    pred_chain += "ELSE 'unknown' END"
    # per-row stopword set for the multilang quality query (mirrors
    # text.lang_stopword_sets: unknown languages -> empty set)
    sw_case = (
        "CASE lang "
        + " ".join(f"WHEN '{lang}' THEN {s}" for lang, s in lang_sets.items())
        + " ELSE CAST([] AS VARCHAR[]) END"
    )

    shingle_list = (
        "list_distinct([array_to_string(toks[i:i+2], ' ') "
        "for i in generate_series(1, greatest(len(toks) - 2, 1))])"
    )

    sqls = {
        "g_extract_typed": f"""
            SELECT event_id AS eid, event_type AS etype,
                   value AS amount, {k_sql} AS k
            FROM events
        """,
        "g_exclude_blacklist": """
            SELECT event_id AS eid, event_type AS etype
            FROM events WHERE event_type NOT IN ('error', 'click')
        """,
        "g_exclude_whitelist": """
            SELECT event_id AS eid, event_type AS etype
            FROM events WHERE event_type IN ('purchase', 'signup')
        """,
        "g_exclude_multi_cond": """
            SELECT event_id AS eid, event_type AS etype, user_id AS uid
            FROM events
            WHERE NOT (event_type = 'error' AND user_id = 13)
              AND NOT (event_type = 'click' AND user_id = 7)
        """,
        "g_dispatch_split": """
            SELECT event_type AS etype, user_id AS uid, value AS amount
            FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_type, user_id, NULL FROM events WHERE event_type = 'signup'
        """,
        "g_array_items": """
            SELECT DISTINCT l_orderkey AS okey,
                   CAST(l_partkey AS VARCHAR) || '#' || CAST(l_suppkey AS VARCHAR) AS item_key
            FROM lineitem
        """,
        "g_regexp_payload": """
            SELECT o_orderkey AS okey,
                   '{"level":"' || split_part(o_orderpriority, '-', 2) ||
                   '","prio":"' || split_part(o_orderpriority, '-', 1) || '"}' AS regexppayload
            FROM orders
        """,
        "g_timeconv": """
            SELECT event_id, strftime(ts, '%Y-%m-%dT%H:%M:%S') || 'Z' AS iso_ts
            FROM events
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_base_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS DOUBLE) AS sum_charge,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_qty,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_price,
                   CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q_revenue_by_nation": """
            SELECT r_name, n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "q_revenue_by_brand": """
            SELECT p_brand, s_nationkey,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY p_brand, s_nationkey
        """,
        "q_top3_events_per_user": """
            SELECT user_id, event_id, ts FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) <= 3
        """,
        "q_latest_event_per_user": """
            SELECT user_id, event_id, event_type, ts FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
        """,
        "q_hourly_rollup": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1, 2
        """,
        "q_sessionize": """
            WITH marked AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), numbered AS (
                SELECT *, sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
                FROM marked
            )
            SELECT user_id, session_seq,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS session_value
            FROM numbered GROUP BY user_id, session_seq
        """,
        "q_hll_rollup": """
            SELECT event_type AS etype,
                   count(DISTINCT user_id) AS distinct_est,
                   count(*) AS n_rows
            FROM events GROUP BY 1
        """,
        "q_hist_quantiles": """
            WITH h AS (
                SELECT event_type,
                       CAST(least(greatest(floor((value - 0.0) / 1.5625), 0), 63) AS INT) AS bin,
                       count(*) AS n
                FROM events WHERE value IS NOT NULL
                GROUP BY 1, 2
            ), c AS (
                SELECT event_type, bin, n,
                       sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
                       sum(n) OVER (PARTITION BY event_type) AS total
                FROM h
            )
            SELECT event_type AS etype,
                   min(CASE WHEN cum >= ceil(0.5 * total) THEN bin * CAST(1.5625 AS DOUBLE) END) AS p50,
                   min(CASE WHEN cum >= ceil(0.9 * total) THEN bin * CAST(1.5625 AS DOUBLE) END) AS p90,
                   min(CASE WHEN cum >= ceil(0.99 * total) THEN bin * CAST(1.5625 AS DOUBLE) END) AS p99,
                   max(total) AS n_values
            FROM c GROUP BY event_type
        """,
        "q_range_join": """
            WITH bands(band, lo, hi) AS (VALUES
                ('low', 0.0, 15.0), ('mid', 10.0, 40.0),
                ('high', 30.0, 80.0), ('top', 60.0, 120.0))
            SELECT band, count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
            FROM events JOIN bands ON value BETWEEN lo AND hi
            GROUP BY band
        """,
        "q_order_priority_counts": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey AND l_shipdate IS NOT NULL)
            GROUP BY o_orderpriority
        """,
        "q_shipping_priority": """
            SELECT l_orderkey, o_orderdate,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_shipdate > TIMESTAMP '1997-06-01'
              AND o_orderdate < TIMESTAMP '1997-06-01'
              AND c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q_forecast_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24
        """,
        "q_returned_items": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate < TIMESTAMP '1997-04-01'
            GROUP BY c_custkey, c_name, c_acctbal, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "q_large_order_customers": """
            WITH big AS (
                SELECT l_orderkey,
                       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 250
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
            FROM orders
            JOIN big ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 100
        """,
        "q_dormant_customers": """
            WITH thr AS (
                SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS total,
                       CAST(count(*) AS DECIMAL(12,0)) AS n
                FROM customer WHERE c_acctbal > 0
            ), cand AS (
                SELECT c.* FROM customer c, thr
                WHERE CAST(c.c_acctbal AS DECIMAL(18,6)) * thr.n > thr.total
            )
            SELECT c_mktsegment,
                   count(*) AS n_customers,
                   CAST(sum(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS total_acctbal
            FROM cand
            WHERE NOT EXISTS (
                SELECT 1 FROM orders o
                WHERE o.o_custkey = cand.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '1998-01-01')
            GROUP BY c_mktsegment
        """,
        "q_cms_heavy_hitters": _cms_oracle(width=256, depth=4),
        "q_join_size_estimate": _join_size_oracle(width=256, depth=4),
        "t_top_terms": f"""
            WITH tok AS (
                SELECT source, unnest({_TOKENS_SQL}) AS term FROM documents
            ), tokf AS (
                SELECT source, term FROM tok WHERE term <> ''
            ), per_src AS (
                SELECT source, term, count(*) AS tf FROM tokf
                GROUP BY 1, 2 HAVING count(*) >= 5
            ), src_totals AS (
                SELECT source, count(*) AS src_tokens FROM tokf GROUP BY 1
            ), term_totals AS (
                SELECT term, count(*) AS term_total FROM tokf GROUP BY 1
            ), all_total AS (
                SELECT count(*) AS all_tokens FROM tokf
            ), scored AS (
                SELECT p.source, p.term, p.tf,
                       round((p.tf / s.src_tokens)
                             / (t.term_total / a.all_tokens), 6) AS lift
                FROM per_src p
                JOIN src_totals s USING (source)
                JOIN term_totals t USING (term)
                CROSS JOIN all_total a
            )
            SELECT source, term, tf, lift FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY source ORDER BY lift DESC, term ASC) AS rank
                FROM scored)
            WHERE rank <= 5
        """,
        "q_key_skew": """
            WITH counts AS (
                SELECT user_id AS key, count(*) AS n FROM events GROUP BY 1
            ), total AS (SELECT sum(n) AS t FROM counts),
            top AS (
                SELECT key, n FROM counts ORDER BY n DESC, key ASC LIMIT 10
            )
            SELECT key, n,
                   round(n / t, 6) AS share,
                   round(sum(n) OVER (ORDER BY n DESC, key ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / t, 6)
                       AS cum_share
            FROM top, total
        """,
        "d_source_overlap": f"""
            WITH h AS (
                SELECT DISTINCT md5({_NORM_SQL}) AS content_hash, source
                FROM documents
            )
            SELECT a.source AS source_a, b.source AS source_b,
                   count(*) AS n_shared
            FROM h a JOIN h b
              ON a.content_hash = b.content_hash AND a.source < b.source
            GROUP BY 1, 2
        """,
        "t_score_normalize": """
            WITH base AS (
                SELECT doc_id, source, n_chars,
                       least(greatest(CAST(floor((n_chars - 0.0) / 64.0)
                           AS BIGINT), 0), 63) AS bin
                FROM documents WHERE n_chars IS NOT NULL
            ), hist AS (
                SELECT source, bin, count(*) AS n FROM base GROUP BY 1, 2
            ), cum AS (
                SELECT source, bin,
                       CAST(sum(n) OVER (PARTITION BY source ORDER BY bin)
                            AS DOUBLE)
                       / CAST(sum(n) OVER (PARTITION BY source) AS DOUBLE)
                           AS pct
                FROM hist
            )
            SELECT b.doc_id, b.source, b.n_chars, round(c.pct, 6) AS pct
            FROM base b JOIN cum c ON c.source = b.source AND c.bin = b.bin
        """,
        "p_leakage_safe_split": _leakage_safe_split_oracle(num_hashes=16, bands=4),
        "p_token_quota": f"""
            WITH t AS (
                SELECT doc_id, source, len({_TOKENS_SQL}) AS n_tok
                FROM documents
            ), c AS (
                SELECT *, sum(n_tok) OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                FROM t
            )
            SELECT source, count(*) AS n_docs FROM c
            WHERE cum <= 20000 GROUP BY source
        """,
        "q_transition_matrix": """
            WITH steps AS (
                SELECT lag(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id)
                           AS from_type,
                       event_type AS to_type
                FROM events
            ), counts AS (
                SELECT from_type, to_type, count(*) AS n
                FROM steps WHERE from_type IS NOT NULL
                GROUP BY 1, 2
            )
            SELECT from_type, to_type, n,
                   round(CAST(n AS DOUBLE)
                         / CAST(sum(n) OVER (PARTITION BY from_type)
                                AS DOUBLE), 6) AS p
            FROM counts
        """,
        "q_bloom_semi": """
            SELECT event_type, count(*) AS n FROM events
            WHERE EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = user_id)
            GROUP BY event_type
        """,
        "q_bloom_anti": """
            SELECT event_type, count(*) AS n FROM events
            WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = user_id)
            GROUP BY event_type
        """,
        "q_cdc_apply": """
            SELECT user_id, event_id, event_type FROM (
                SELECT user_id, event_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) AS rn
                FROM events)
            WHERE rn = 1 AND event_type <> 'error'
        """,
        "q_scd2_history": """
            SELECT user_id, event_id,
                   ts AS valid_from,
                   lead(ts) OVER w AS valid_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "p_rag_pipeline": f"""
            WITH base AS (
                SELECT doc_id, {_TOKENS_SQL} AS toks,
                       greatest(len({_TOKENS_SQL}), 1) AS n
                FROM documents
            ), st AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, n, 24)) AS s
                FROM base
            ), chunks AS (
                SELECT doc_id,
                       CAST((s - 1) // 24 AS INTEGER) AS chunk_idx,
                       array_to_string(list_slice(toks, s, s + 31), ' ')
                           AS chunk_text,
                       len(list_slice(toks, s, s + 31)) AS n_tokens
                FROM st
            ), uniq AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY md5(trim(regexp_replace(
                            lower(chunk_text), '\\s+', ' ', 'g')))
                        ORDER BY doc_id, chunk_idx) AS rn
                    FROM chunks)
                WHERE rn = 1
            )
            SELECT d.source, count(*) AS n_chunks,
                   sum(u.n_tokens) AS total_tokens
            FROM uniq u JOIN documents d ON d.doc_id = u.doc_id
            GROUP BY d.source
        """,
        "q_funnel": """
            WITH u AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'signup'
                           THEN epoch(ts) END) AS t0
                FROM events GROUP BY user_id
            ), w1 AS (
                SELECT u.user_id, u.t0,
                       (SELECT min(epoch(e.ts)) FROM events e
                        WHERE e.user_id = u.user_id
                          AND e.event_type = 'view'
                          AND epoch(e.ts) > u.t0) AS t1
                FROM u
            ), w2 AS (
                SELECT w1.*,
                       (SELECT min(epoch(e.ts)) FROM events e
                        WHERE e.user_id = w1.user_id
                          AND e.event_type = 'purchase'
                          AND epoch(e.ts) > w1.t1) AS t2
                FROM w1
            )
            SELECT sum(CASE WHEN t0 IS NOT NULL THEN 1 ELSE 0 END) AS n_step0,
                   sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS n_step1,
                   sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS n_step2
            FROM w2
        """,
        "q_cohort_retention": """
            WITH activity AS (
                SELECT DISTINCT user_id,
                       CAST(floor(floor(epoch(ts) / 86400) / 7) AS BIGINT)
                           AS period
                FROM events
            ), first AS (
                SELECT user_id, min(period) AS cohort
                FROM activity GROUP BY user_id
            )
            SELECT f.cohort, a.period - f.cohort AS periods_since,
                   count(DISTINCT a.user_id) AS n_users
            FROM activity a JOIN first f ON f.user_id = a.user_id
            GROUP BY 1, 2
        """,
        "q_interval_join": """
            WITH marked AS (
                SELECT user_id, event_id, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), numbered AS (
                SELECT *, sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
                FROM marked
            ), sess AS (
                SELECT user_id, session_seq,
                       min(ts) AS session_start, max(ts) AS session_end
                FROM numbered GROUP BY user_id, session_seq
            ), bounds AS (
                SELECT date_trunc('day', min(ts)) AS lo,
                       date_trunc('day', max(ts)) AS hi
                FROM events
            ), windows AS (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
                           AS w_start
                FROM bounds
            )
            SELECT w.w_start, count(*) AS n_sessions
            FROM windows w JOIN sess s
              ON epoch_us(s.session_start) <= epoch_us(w.w_start + INTERVAL 1 HOUR)
             AND epoch_us(w.w_start) <= epoch_us(s.session_end)
            GROUP BY w.w_start
        """,
        "t_threshold_sweep": """
            SELECT source, t.threshold, count(*) AS n_rows,
                   CAST(sum(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(38,6)))
                        AS DOUBLE) AS metric_mass
            FROM documents
            CROSS JOIN (VALUES (0.0), (200.0), (500.0), (1000.0), (2000.0))
                 AS t(threshold)
            WHERE CAST(n_chars AS DOUBLE) >= t.threshold
            GROUP BY source, t.threshold
        """,
        "t_boilerplate_ngrams": f"""
            WITH t AS (
                SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
            ), sh AS (
                SELECT doc_id,
                       unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                           for i in generate_series(1,
                               greatest(len(toks) - 2, 1))])) AS shingle
                FROM t
            ), shf AS (
                SELECT doc_id, shingle FROM sh WHERE shingle <> ''
            )
            SELECT shingle, count(*) AS n_docs
            FROM shf GROUP BY shingle HAVING count(*) >= 2
            ORDER BY n_docs DESC, shingle ASC LIMIT 20
        """,
        "q_rolling_features": """
            SELECT event_id, user_id,
                   count(*) OVER w AS n_window,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
                       AS sum_window
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                         RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
        """,
        "p_temperature_mix": """
            WITH counts AS (
                SELECT source AS src, count(*) AS n_s
                FROM documents GROUP BY source
            ), totals AS (
                SELECT sum(n_s) AS total,
                       sum(sqrt(CAST(n_s AS DOUBLE))) AS qd
                FROM counts
            ), rates AS (
                SELECT src,
                       least(1.0, ((sqrt(CAST(n_s AS DOUBLE)) / qd)
                           * (CAST(total AS DOUBLE) / 2)) / CAST(n_s AS DOUBLE))
                           AS rate
                FROM counts, totals
            ), kept AS (
                SELECT d.source FROM documents d
                JOIN rates r ON d.source = r.src
                WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      < CAST(floor(rate * 4294967296.0) AS BIGINT)
            )
            SELECT source, count(*) AS n_kept FROM kept GROUP BY source
        """,
        "d_verified_pairs": _verified_pairs_oracle(
            num_hashes=16, bands=4, threshold=0.5
        ),
        "q_pivot_returnflag": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN l_returnflag = 'A'
                       THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS "A",
                   CAST(sum(CASE WHEN l_returnflag = 'N'
                       THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS "N",
                   CAST(sum(CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS DECIMAL(38,6)) END) AS DOUBLE) AS "R"
            FROM lineitem GROUP BY l_linestatus
        """,
        "q_rollup_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total,
                   count(*) AS n_rows,
                   GROUPING(l_returnflag, l_linestatus) AS grouping_level
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "q_gap_fill": """
            WITH bounds AS (
                SELECT date_trunc('hour', min(ts)) AS lo,
                       date_trunc('hour', max(ts)) AS hi
                FROM events
            ), axis AS (
                SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
                FROM bounds
            ), groups AS (
                SELECT DISTINCT event_type FROM events
            ), actual AS (
                SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
                FROM events GROUP BY 1, 2
            )
            SELECT g.event_type, a.hour, coalesce(actual.n, 0) AS n
            FROM axis a CROSS JOIN groups g
            LEFT JOIN actual ON actual.event_type = g.event_type
                            AND actual.h = a.hour
        """,
        "p_table_digest": """
            SELECT count(*) AS n_rows,
                   CAST(sum(('0x' || substr(md5(
                       concat_ws(chr(31),
                           coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null'),
                           coalesce(text, chr(0) || 'null'),
                           coalesce(lang, chr(0) || 'null'),
                           coalesce(source, chr(0) || 'null'),
                           coalesce(CAST(n_chars AS VARCHAR), chr(0) || 'null')
                       )), 1, 14))::BIGINT) AS VARCHAR) AS digest
            FROM documents
        """,
        "q_session_sequences": """
            WITH marked AS (
                SELECT user_id, event_id, event_type, ts,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), numbered AS (
                SELECT *, sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
                FROM marked
            ), seqs AS (
                SELECT user_id, session_seq, count(*) AS n_events,
                       string_agg(event_type || ':' || CAST(epoch_us(ts) AS BIGINT),
                                  '|' ORDER BY ts, event_id) AS seq_text
                FROM numbered GROUP BY user_id, session_seq
            )
            SELECT user_id, session_seq, n_events,
                   md5(seq_text) AS seq_hash,
                   substr(seq_text, 1, 64) AS seq_head
            FROM seqs
        """,

        "q_zorder_cells": """
            WITH binned AS (
                SELECT value, user_id,
                       least(greatest(CAST(floor((value - 0.0) / 0.78125) AS BIGINT), 0), 255) AS vb,
                       least(greatest(CAST(floor((user_id - 0.0) / 8.0) AS BIGINT), 0), 255) AS ub
                FROM events
            ), keyed AS (
                SELECT value, user_id, ((((vb) >> 0) & 1) << 0) | ((((ub) >> 0) & 1) << 1) | ((((vb) >> 1) & 1) << 2) | ((((ub) >> 1) & 1) << 3) | ((((vb) >> 2) & 1) << 4) | ((((ub) >> 2) & 1) << 5) | ((((vb) >> 3) & 1) << 6) | ((((ub) >> 3) & 1) << 7) | ((((vb) >> 4) & 1) << 8) | ((((ub) >> 4) & 1) << 9) | ((((vb) >> 5) & 1) << 10) | ((((ub) >> 5) & 1) << 11) | ((((vb) >> 6) & 1) << 12) | ((((ub) >> 6) & 1) << 13) | ((((vb) >> 7) & 1) << 14) | ((((ub) >> 7) & 1) << 15) AS z FROM binned
            )
            SELECT z >> 8 AS z_cell, count(*) AS n,
                   min(value) AS min_value, max(value) AS max_value,
                   min(user_id) AS min_user, max(user_id) AS max_user
            FROM keyed GROUP BY 1
        """,
        "d_exact_groups": f"""
            SELECT md5({_NORM_SQL}) AS content_hash,
                   min(doc_id) AS rep_doc_id,
                   count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "d_ngram_jaccard": f"""
            WITH sh AS (
                SELECT doc_id, unnest({shingle_list.replace('toks', _TOKENS_SQL)}) AS shingle
                FROM documents
            ), shf AS (
                SELECT doc_id, shingle FROM sh WHERE shingle <> ''
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
                FROM shf a JOIN shf b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, n_common,
                   round(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        "d_distinct_event_keys": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "d_dedup_clusters": _dedup_clusters_oracle(num_hashes=16, bands=4),
        "d_keep_canonical": _keep_canonical_oracle(num_hashes=16, bands=4),
        "d_incremental_dedup": _incremental_dedup_oracle(num_hashes=16, bands=4),
        "d_dup_rate_by_source": _dup_rate_oracle(num_hashes=16, bands=4),
        "p_dataset_split": _dataset_split_oracle(),
        "p_deterministic_sample": _deterministic_sample_oracle(0.1, "s1"),
        "p_stratified_sample": _stratified_sample_oracle(),
        "t_quality_features": f"""
            WITH base AS (
                SELECT doc_id, text, {_TOKENS_SQL} AS toks FROM documents
            )
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   length(text) AS n_chars,
                   round(length(text)::DOUBLE / greatest(len(toks), 1), 4) AS avg_token_len,
                   round(length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g'))::DOUBLE
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_intersect(list_distinct(toks), {sw_en}))::DOUBLE
                         / greatest(len(list_distinct(toks)), 1), 6) AS stopword_ratio
            FROM base
        """,
        "t_quality_multilang": f"""
            WITH base AS (
                SELECT doc_id, lang, text, {utoks_sql} AS toks,
                       {sw_case} AS sw
                FROM documents
            )
            SELECT doc_id, lang,
                   len(toks) AS n_tokens,
                   length(text) AS n_chars,
                   round(length(text)::DOUBLE / greatest(len(toks), 1), 4) AS avg_token_len,
                   round(length(regexp_replace(text, '[^\\.,;:!\\?]', '', 'g'))::DOUBLE
                         / greatest(length(text), 1), 6) AS punct_ratio,
                   round(len(list_intersect(list_distinct(toks), sw))::DOUBLE
                         / greatest(len(list_distinct(toks)), 1), 6) AS stopword_ratio
            FROM base
        """,
        "p_lang_filter": f"""
            WITH base AS (
                SELECT doc_id, lang, source,
                       list_distinct({utoks_sql}) AS dtoks
                FROM documents
            ), scored AS (
                SELECT doc_id, lang, source, {lang_scores} FROM base
            )
            SELECT doc_id, lang, source
            FROM scored
            WHERE {pred_chain} IN ('en', 'de')
        """,
        "t_language_id": f"""
            WITH base AS (
                SELECT doc_id, lang, list_distinct({utoks_sql}) AS dtoks
                FROM documents
            ), scored AS (
                SELECT doc_id, lang, {lang_scores} FROM base
            )
            SELECT doc_id, lang, score_en, score_de, score_fr, score_es,
                   score_zh, score_ja, score_ko, score_ru, score_ar,
                   score_hi,
                   {pred_chain} AS predicted_lang
            FROM scored
        """,
        "t_token_stats": f"""
            WITH per_doc AS (
                SELECT source,
                       len({_TOKENS_SQL}) AS n_tokens,
                       CAST(list_sum([CAST(ceil(length(t) / 4.0) AS BIGINT)
                                      for t in {_TOKENS_SQL}]) AS BIGINT) AS n_subwords
                FROM documents
            )
            SELECT source, count(*) AS n_docs,
                   sum(n_tokens) AS total_tokens,
                   sum(n_subwords) AS total_subwords,
                   CAST(sum(n_tokens) AS DOUBLE) / count(*) AS avg_tokens
            FROM per_doc GROUP BY source
        """,
        "t_doc_fingerprint": f"""
            WITH base AS (
                SELECT doc_id, {_NORM_SQL} AS norm FROM documents
            )
            SELECT doc_id,
                   array_to_string(
                       list_slice(
                           list_sort(list_distinct(
                               [md5(substring(norm, i, 8))
                                for i in generate_series(1, greatest(length(norm) - 7, 1))])),
                           1, 4),
                       '|') AS fingerprint
            FROM base
        """,
        "p_corpus_pipeline": f"""
            WITH sized AS (
                SELECT doc_id, source, {_TOKENS_SQL} AS toks,
                       len({_TOKENS_SQL}) AS n
                FROM documents
            ),
            uni_doc AS (
                SELECT doc_id,
                       coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup1
                FROM (SELECT doc_id, gram, count(*) AS c
                      FROM (SELECT doc_id, unnest(toks) AS gram FROM sized)
                      GROUP BY 1, 2)
                GROUP BY 1
            ),
            q AS (
                SELECT s.doc_id FROM sized s LEFT JOIN uni_doc u USING (doc_id)
                WHERE s.n >= 20
                  AND CAST(coalesce(u.dup1, 0) AS DOUBLE)
                      / greatest(s.n, 1) <= 0.96
            ),
            dedup AS (
                SELECT doc_id, source FROM (
                    SELECT d.doc_id, d.source, row_number() OVER (
                        PARTITION BY md5({_NORM_SQL}) ORDER BY d.doc_id) AS rn
                    FROM documents d JOIN q USING (doc_id))
                WHERE rn = 1
            ),
            shf AS (
                SELECT s.doc_id, shingle FROM (
                    SELECT doc_id, unnest(list_distinct(
                        [array_to_string(toks[i:i+4], ' ')
                         for i in generate_series(1, greatest(len(toks) - 4, 1))]
                    )) AS shingle
                    FROM sized) s
                JOIN dedup USING (doc_id)
                WHERE shingle <> ''
            ),
            ev AS (
                SELECT DISTINCT shingle FROM (
                    SELECT doc_id, unnest(list_distinct(
                        [array_to_string(toks[i:i+4], ' ')
                         for i in generate_series(1, greatest(len(toks) - 4, 1))]
                    )) AS shingle
                    FROM sized WHERE doc_id % 97 = 0)
                WHERE shingle <> ''
            ),
            contaminated AS (
                SELECT DISTINCT s.doc_id FROM shf s JOIN ev USING (shingle)
            ),
            clean AS (
                SELECT d.doc_id, d.source FROM dedup d
                WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
            ),
            capped AS (
                SELECT doc_id, source FROM (
                    SELECT doc_id, source, row_number() OVER (
                        PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cp') ASC,
                                 doc_id ASC) AS r
                    FROM clean)
                WHERE r <= 40
            )
            SELECT c.source, count(*) AS n_docs, sum(s.n) AS total_tokens
            FROM capped c JOIN sized s USING (doc_id)
            GROUP BY c.source
        """,
        "p_chunk_documents": f"""
            WITH base AS (
                SELECT doc_id, {_TOKENS_SQL} AS toks,
                       greatest(len({_TOKENS_SQL}), 1) AS n
                FROM documents
            ),
            st AS (
                SELECT doc_id, toks,
                       unnest(generate_series(1, n, 24)) AS s
                FROM base
            )
            SELECT doc_id,
                   CAST((s - 1) // 24 AS INTEGER) AS chunk_idx,
                   array_to_string(list_slice(toks, s, s + 31), ' ') AS chunk_text,
                   len(list_slice(toks, s, s + 31)) AS n_tokens
            FROM st
        """,
        "t_repetition_stats": f"""
            -- independent formulation: positional n-gram unnest + group
            -- counts (Spark side uses a sorted-array run-length pass)
            WITH sized AS (
                SELECT doc_id, {_TOKENS_SQL} AS toks,
                       len({_TOKENS_SQL}) AS n
                FROM documents
            ),
            uni_cnt AS (
                SELECT doc_id, gram, count(*) AS c
                FROM (SELECT doc_id, unnest(toks) AS gram FROM sized)
                GROUP BY 1, 2
            ),
            uni_doc AS (
                SELECT doc_id,
                       coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup1
                FROM uni_cnt GROUP BY 1
            ),
            bi_cnt AS (
                SELECT doc_id, gram, count(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN n >= 2
                                  THEN [toks[i] || ' ' || toks[i + 1]
                                        for i in generate_series(1, n - 1)]
                                  ELSE [] END) AS gram
                    FROM sized)
                GROUP BY 1, 2
            ),
            bi_doc AS (SELECT doc_id, max(c) AS best2 FROM bi_cnt GROUP BY 1),
            tri_cnt AS (
                SELECT doc_id, gram, count(*) AS c
                FROM (
                    SELECT doc_id,
                           unnest(CASE WHEN n >= 3
                                  THEN [toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
                                        for i in generate_series(1, n - 2)]
                                  ELSE [] END) AS gram
                    FROM sized)
                GROUP BY 1, 2
            ),
            tri_doc AS (
                SELECT doc_id,
                       coalesce(sum(c) FILTER (WHERE c >= 2), 0) AS dup3
                FROM tri_cnt GROUP BY 1
            )
            SELECT s.doc_id, s.n AS n_tokens,
                   CAST(coalesce(u.dup1, 0) AS DOUBLE) / greatest(s.n, 1)
                       AS dup_token_frac,
                   CAST(coalesce(b.best2, 0) AS DOUBLE) / greatest(s.n - 1, 1)
                       AS top_bigram_frac,
                   CAST(coalesce(t.dup3, 0) AS DOUBLE) / greatest(s.n - 2, 1)
                       AS dup_trigram_frac
            FROM sized s
            LEFT JOIN uni_doc u USING (doc_id)
            LEFT JOIN bi_doc b USING (doc_id)
            LEFT JOIN tri_doc t USING (doc_id)
        """,
        "m_frame_sample": """
            WITH m AS (
                SELECT doc_id AS media_id,
                       greatest(CAST(floor(octet_length(encode(text)) / 1000.0)
                                     AS BIGINT), 1) AS n
                FROM documents)
            SELECT media_id, n AS n_frames, n * (n - 1) // 2 AS idx_sum
            FROM m
        """,
        "m_media_features": """
            SELECT doc_id AS media_id,
                   CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
                   md5(text) AS content_md5
            FROM documents
        """,
        # arithmetic replay of the REAL PPM decode: pixel bytes from
        # the same md5 digests (hex-pair -> int), BT.601 milli-luma
        # over the r/g/b byte positions of a 4x2 P6 — no image parsing
        # on the oracle side, so a decoder header-offset/channel-order
        # bug cannot cancel out
        "m_decode_real": f"""
            WITH {_MD5_BYTES_CTE_SQL}
            SELECT doc_id AS media_id,
                   'P6' AS format,
                   CAST(4 AS INTEGER) AS width,
                   CAST(2 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS channels,
                   CAST(
                     (299 * CAST(list_sum([bytes[i] for i in [1,4,7,10,13,16,19,22]]) AS BIGINT)
                      + 587 * CAST(list_sum([bytes[i] for i in [2,5,8,11,14,17,20,23]]) AS BIGINT)
                      + 114 * CAST(list_sum([bytes[i] for i in [3,6,9,12,15,18,21,24]]) AS BIGINT))
                     // 8 AS BIGINT) AS mean_luma_fx
            FROM b
        """,
        # arithmetic replay of the REAL nearest-neighbor resize: 4x2
        # -> 2x1 keeps source pixels 0 and 2 of row 0 (digest bytes
        # 1-3 / 7-9, RGB order)
        "m_resize_real": f"""
            WITH {_MD5_BYTES_CTE_SQL}
            SELECT doc_id AS media_id,
                   'P6' AS format,
                   CAST(2 AS INTEGER) AS width,
                   CAST(1 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS channels,
                   CAST((299*(bytes[1]+bytes[7])
                         + 587*(bytes[2]+bytes[8])
                         + 114*(bytes[3]+bytes[9])) // 2 AS BIGINT)
                       AS mean_luma_fx
            FROM b
        """,
        # arithmetic replay of the REAL AVI frame extraction: two 2x1
        # DIB frames from md5 bytes 1-6 / 7-12 (BGR order, so r/g/b
        # come from positions 3,2,1 and 6,5,4 within each frame) — no
        # container parsing oracle-side
        "m_frame_sample_real": f"""
            WITH {_MD5_BYTES_CTE_SQL}, f AS (
                SELECT doc_id, 0 AS frame_idx, CAST(0 AS BIGINT) AS ts_ms,
                       bytes[3]+bytes[6] AS sr, bytes[2]+bytes[5] AS sg,
                       bytes[1]+bytes[4] AS sb
                FROM b
                UNION ALL
                SELECT doc_id, 1, CAST(40 AS BIGINT),
                       bytes[9]+bytes[12], bytes[8]+bytes[11],
                       bytes[7]+bytes[10]
                FROM b
            )
            SELECT doc_id AS media_id,
                   CAST(frame_idx AS INTEGER) AS frame_idx,
                   ts_ms,
                   CAST(2 AS INTEGER) AS width,
                   CAST(1 AS INTEGER) AS height,
                   CAST((299*sr + 587*sg + 114*sb) // 2 AS BIGINT)
                       AS mean_luma_fx
            FROM f
        """,
        # arithmetic replay of the merge-sink tombstone feed: the final
        # table state is a pure function of the key (no sink machinery
        # oracle-side) — a marker that leaks, resurrects, or evicts the
        # wrong version hash-mismatches
        "k_merge_tombstones": """
            WITH k AS (
                SELECT o_orderkey AS okey,
                       CAST(o_totalprice AS DOUBLE) AS price
                FROM orders WHERE o_orderkey % 97 = 0
            )
            SELECT okey,
                   CASE WHEN okey % 4 = 0 THEN price * 2 ELSE price END
                       AS price,
                   'upsert' AS op
            FROM k
            WHERE okey % 4 = 0 OR okey % 2 = 1
        """,
        # arithmetic replay of the REAL WAV decode: 12 signed 16-bit LE
        # samples from the same 24 md5 bytes (lo + 256*hi, two's
        # complement), exact peak / floor-mean-square — no WAV parsing
        # oracle-side
        "m_decode_audio": f"""
            WITH {_MD5_BYTES_CTE_SQL}, s AS (
                SELECT doc_id,
                       [CASE WHEN bytes[2*i-1] + 256*bytes[2*i] >= 32768
                             THEN bytes[2*i-1] + 256*bytes[2*i] - 65536
                             ELSE bytes[2*i-1] + 256*bytes[2*i] END
                        for i in generate_series(1, 12)] AS smp
                FROM b
            )
            SELECT doc_id AS media_id,
                   'WAV' AS format,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(16 AS INTEGER) AS bit_depth,
                   CAST(12 AS BIGINT) AS n_frames,
                   CAST(1 AS BIGINT) AS duration_ms,
                   CAST(list_max([abs(v) for v in smp]) AS BIGINT) AS peak_abs,
                   CAST(CAST(list_sum([v*v for v in smp]) AS BIGINT) // 12
                        AS BIGINT) AS mean_square_fx
            FROM s
        """,
        # arithmetic replay of the G.711 expansion: the same 24 md5
        # bytes as companded codes — µ-law (even doc_id: complement,
        # segment shift, bias 0x84) / A-law (odd: xor 0x55, segment
        # shift, bias 0x108) — expanded per ITU-T G.711 in pure SQL
        # arithmetic replay of the wide-sample WAV decode: samples
        # reassembled two's-complement (2^23 / 2^31), float samples
        # as the exact integer (b-128)*128; HUGEINT sum for the
        # 32-bit squares (6 * (2^31)^2 > int64)
        # ANALYTIC AIFF replay: per-variant endianness reassembly
        "m_decode_aiff": f"""
            WITH {_MD5_BYTES_CTE_SQL}, s AS (
                SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INTEGER)
                     WHEN 0 THEN
                       [CASE WHEN 256*bytes[2*i-1] + bytes[2*i]
                                  >= 32768
                             THEN 256*bytes[2*i-1] + bytes[2*i] - 65536
                             ELSE 256*bytes[2*i-1] + bytes[2*i] END
                        for i in generate_series(1, 12)]
                     WHEN 1 THEN
                       [CASE WHEN bytes[2*i-1] + 256*bytes[2*i]
                                  >= 32768
                             THEN bytes[2*i-1] + 256*bytes[2*i] - 65536
                             ELSE bytes[2*i-1] + 256*bytes[2*i] END
                        for i in generate_series(1, 12)]
                     ELSE
                       [CASE WHEN 65536*bytes[3*i-2] + 256*bytes[3*i-1]
                                  + bytes[3*i] >= 8388608
                             THEN 65536*bytes[3*i-2] + 256*bytes[3*i-1]
                                  + bytes[3*i] - 16777216
                             ELSE 65536*bytes[3*i-2] + 256*bytes[3*i-1]
                                  + bytes[3*i] END
                        for i in generate_series(1, 8)]
                   END AS smp
                FROM b
            )
            SELECT doc_id AS media_id,
                   'AIFF' AS format,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 2 END
                        AS INTEGER) AS n_channels,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 24 ELSE 16 END
                        AS INTEGER) AS bit_depth,
                   CAST(CASE WHEN doc_id % 3 = 2 THEN 8 ELSE 6 END
                        AS BIGINT) AS n_frames,
                   CAST(list_max([abs(v) for v in smp]) AS BIGINT)
                       AS peak_abs,
                   CAST(CAST(list_sum([CAST(v AS HUGEINT) * v
                                       for v in smp]) AS HUGEINT)
                        // len(smp) AS BIGINT) AS mean_square_fx
            FROM s
        """,
        # ANALYTIC EBML replay: duration = units x scale / 1e6 ms,
        # every other field a literal function of doc_id % 3
        "m_mkv_probe": """
            SELECT doc_id AS media_id,
                   'MKV' AS format,
                   CASE doc_id % 3 WHEN 1 THEN 'matroska'
                        ELSE 'webm' END AS doc_type,
                   CAST(CASE doc_id % 3
                     WHEN 0 THEN (doc_id % 1000 + 10) * 2
                     WHEN 1 THEN (doc_id % 500) * 1000
                     ELSE (doc_id % 100 + 1) * 1000
                   END AS BIGINT) AS duration_ms,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 2 ELSE 1 END
                        AS INTEGER) AS n_tracks,
                   CAST(CASE doc_id % 3
                     WHEN 0 THEN 320 + doc_id % 64
                     WHEN 2 THEN 1280
                   END AS INTEGER) AS width,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 240 WHEN 2
                        THEN 720 END AS INTEGER) AS height,
                   doc_id % 3 <> 1 AS has_video,
                   doc_id % 3 <> 2 AS has_audio
            FROM documents
        """,
        "m_decode_flac": f"""
            WITH {_MD5_BYTES_CTE_SQL}, s AS (
                SELECT doc_id,
                   CASE WHEN doc_id % 4 IN (0, 1) THEN
                       [CASE WHEN bytes[2*i-1] + 256*bytes[2*i]
                                  >= 32768
                             THEN bytes[2*i-1] + 256*bytes[2*i] - 65536
                             ELSE bytes[2*i-1] + 256*bytes[2*i] END
                        for i in generate_series(1, 8)]
                     WHEN doc_id % 4 = 2 THEN
                       [CAST(doc_id % 251 - 125 AS BIGINT)
                        for i in generate_series(1, 96)]
                     ELSE
                       [CASE WHEN bytes[3*i-2] + 256*bytes[3*i-1]
                                  + 65536*bytes[3*i] >= 8388608
                             THEN bytes[3*i-2] + 256*bytes[3*i-1]
                                  + 65536*bytes[3*i] - 16777216
                             ELSE bytes[3*i-2] + 256*bytes[3*i-1]
                                  + 65536*bytes[3*i] END
                        for i in generate_series(1, 8)]
                   END AS smp
                FROM b
            )
            SELECT doc_id AS media_id,
                   'FLAC' AS format,
                   CAST(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 2 END
                        AS INTEGER) AS n_channels,
                   CAST(CASE WHEN doc_id % 4 = 3 THEN 24 ELSE 16 END
                        AS INTEGER) AS bit_depth,
                   CAST(len(smp) AS BIGINT) AS n_frames,
                   CAST(list_max([abs(v) for v in smp]) AS BIGINT)
                       AS peak_abs,
                   CAST(CAST(list_sum([CAST(v AS HUGEINT) * v
                                       for v in smp]) AS HUGEINT)
                        // len(smp) AS BIGINT) AS mean_square_fx
            FROM s
        """,
        "m_decode_wav_wide": f"""
            WITH {_MD5_BYTES_CTE_SQL}, s AS (
                SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INTEGER)
                     WHEN 0 THEN
                       [CASE WHEN bytes[3*i-2] + 256*bytes[3*i-1]
                                  + 65536*bytes[3*i] >= 8388608
                             THEN bytes[3*i-2] + 256*bytes[3*i-1]
                                  + 65536*bytes[3*i] - 16777216
                             ELSE bytes[3*i-2] + 256*bytes[3*i-1]
                                  + 65536*bytes[3*i] END
                        for i in generate_series(1, 8)]
                     WHEN 1 THEN
                       [CASE WHEN bytes[4*i-3] + 256*bytes[4*i-2]
                                  + 65536*bytes[4*i-1]
                                  + 16777216*bytes[4*i] >= 2147483648
                             THEN bytes[4*i-3] + 256*bytes[4*i-2]
                                  + 65536*bytes[4*i-1]
                                  + 16777216*bytes[4*i] - 4294967296
                             ELSE bytes[4*i-3] + 256*bytes[4*i-2]
                                  + 65536*bytes[4*i-1]
                                  + 16777216*bytes[4*i] END
                        for i in generate_series(1, 6)]
                     ELSE
                       [(bytes[i] - 128) * 128
                        for i in generate_series(1, 24)]
                   END AS smp
                FROM b
            )
            SELECT doc_id AS media_id,
                   'WAV' AS format,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 24
                        ELSE 32 END AS INTEGER) AS bit_depth,
                   CAST(len(smp) AS BIGINT) AS n_frames,
                   CAST(list_max([abs(v) for v in smp]) AS BIGINT)
                       AS peak_abs,
                   CAST(CAST(list_sum([CAST(v AS HUGEINT) * v
                                       for v in smp]) AS HUGEINT)
                        // len(smp) AS BIGINT) AS mean_square_fx
            FROM s
        """,
        "m_decode_g711": f"""
            WITH {_MD5_BYTES_CTE_SQL}, s AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 2 = 0 THEN
                         [CASE WHEN (255 - c) >= 128 THEN
                              -((((255 - c) % 16) * 8 + 132)
                                * (1 << (((255 - c) // 16) % 8)) - 132)
                          ELSE
                              ((((255 - c) % 16) * 8 + 132)
                               * (1 << (((255 - c) // 16) % 8)) - 132)
                          END
                          for c in bytes]
                       ELSE
                         [CASE WHEN xor(c, 85) >= 128 THEN
                              CASE WHEN (xor(c, 85) // 16) % 8 = 0
                                   THEN (xor(c, 85) % 16) * 16 + 8
                                   ELSE ((xor(c, 85) % 16) * 16 + 264)
                                        * (1 << ((xor(c, 85) // 16) % 8 - 1))
                              END
                          ELSE
                              -(CASE WHEN (xor(c, 85) // 16) % 8 = 0
                                     THEN (xor(c, 85) % 16) * 16 + 8
                                     ELSE ((xor(c, 85) % 16) * 16 + 264)
                                          * (1 << ((xor(c, 85) // 16) % 8 - 1))
                                END)
                          END
                          for c in bytes]
                       END AS smp
                FROM b
            )
            SELECT doc_id AS media_id,
                   'WAV' AS format,
                   CAST(1 AS INTEGER) AS n_channels,
                   CAST(8000 AS INTEGER) AS sample_rate,
                   CAST(8 AS INTEGER) AS bit_depth,
                   CAST(24 AS BIGINT) AS n_frames,
                   CAST(3 AS BIGINT) AS duration_ms,
                   CAST(list_max([abs(v) for v in smp]) AS BIGINT)
                       AS peak_abs,
                   CAST(CAST(list_sum([v*v for v in smp]) AS BIGINT) // 24
                        AS BIGINT) AS mean_square_fx
            FROM s
        """,
        # full IMA ADPCM state-machine replay via struct list_reduce
        "m_decode_adpcm": _adpcm_oracle(),
        # ANALYTIC EXIF replay: every field is a pure function of
        # doc_id (the fixture's _exif_fixture_parts contract)
        "m_exif_extract": """
            SELECT doc_id AS media_id,
                   'JPEG' AS format,
                   CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
                   'Maker' || CAST(doc_id % 5 AS VARCHAR) AS make,
                   'M-' || CAST(doc_id % 7 AS VARCHAR) AS model,
                   '2024:01:01 00:00:0' || CAST(doc_id % 10 AS VARCHAR)
                       AS datetime,
                   doc_id % 3 = 0 AS has_gps
            FROM documents
        """,
        # stripped payload must be byte-identical to the constant
        # base JPEG (md5 literal computed from the same fixture
        # encoder); APP1 sizes are the analytic 99/129 bytes
        "m_strip_metadata": _strip_metadata_oracle(),
        # ANALYTIC RIFF INFO replay (fixture contract: _riff_fixture)
        "m_riff_info": """
            SELECT doc_id AS media_id,
                   'WAV' AS format,
                   'Artist ' || CAST(doc_id % 5 AS VARCHAR) AS artist,
                   'T' || CAST(doc_id % 7 AS VARCHAR) AS title,
                   '202' || CAST(doc_id % 10 AS VARCHAR) AS date,
                   CAST(NULL AS VARCHAR) AS software,
                   doc_id % 4 = 0 AS has_id3
            FROM documents
        """,
        "m_strip_wav": _strip_wav_oracle(),
        "m_strip_png": _strip_png_oracle(),
        # ANALYTIC ID3 replay: decoded strings are
        # encoding-independent, so only doc_id matters
        "m_id3_extract": """
            SELECT doc_id AS media_id,
                   'MP3' AS format,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END
                        AS INTEGER) AS version,
                   'Song ' || CAST(doc_id % 7 AS VARCHAR) AS title,
                   'Artist ' || CAST(doc_id % 5 AS VARCHAR) AS artist,
                   'Album ' || CAST(doc_id % 3 AS VARCHAR) AS album,
                   '202' || CAST(doc_id % 10 AS VARCHAR) AS date,
                   doc_id % 3 = 0 AS has_image
            FROM documents
        """,
        "m_strip_mp3": _strip_mp3_oracle(),
        # ANALYTIC subtitle replay: cue times/texts are pure
        # functions of doc_id (same for the SRT and VTT variants)
        # ANALYTIC VTT replay: optional-hours cue at a*1000 ms, the
        # full-hours cue at 1h02m + a s; tags stripped from text
        "m_vtt_cues": """
            WITH two AS (SELECT unnest([1, 2]) AS i)
            SELECT doc_id AS media_id,
                   CAST(i AS INTEGER) AS cue_idx,
                   CAST(CASE i WHEN 1 THEN (doc_id % 6) * 1000
                        ELSE 3720000 + (doc_id % 6) * 1000 + 250
                        END AS BIGINT) AS start_ms,
                   CAST(CASE i WHEN 1 THEN (doc_id % 6) * 1000 + 500
                        ELSE 3720000 + (doc_id % 6) * 1000 + 900
                        END AS BIGINT) AS end_ms,
                   CASE i WHEN 1
                        THEN 'Hello tag ' || CAST(doc_id AS VARCHAR)
                        ELSE 'plain ' || CAST(doc_id AS VARCHAR)
                   END AS text
            FROM documents, two
        """,
        "m_srt_cues": """
            WITH two AS (SELECT unnest([1, 2]) AS cue)
            SELECT doc_id AS media_id,
                   CAST(cue AS INTEGER) AS cue_idx,
                   CAST(CASE cue
                        WHEN 1 THEN (doc_id % 6) * 1000
                        ELSE (doc_id % 9) * 60000 + 10500
                             + (doc_id % 10) * 10
                        END AS BIGINT) AS start_ms,
                   CAST(CASE cue
                        WHEN 1 THEN (doc_id % 6) * 1000 + 900
                        ELSE 3600000 + (doc_id % 9) * 60000 + 11000
                        END AS BIGINT) AS end_ms,
                   CASE cue
                        WHEN 1 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                                    || ' first' || chr(10) || 'more'
                        ELSE 'Second ' || CAST(doc_id % 10 AS VARCHAR)
                   END AS text
            FROM documents, two
        """,
        # ANALYTIC Ogg replay (codec rotation, opus pre-skip folded
        # into the granule so duration stays (d%9+1) seconds)
        "m_ogg_probe": """
            SELECT doc_id AS media_id,
                   'OGG' AS format,
                   CASE WHEN doc_id % 2 = 0 THEN 'vorbis'
                        ELSE 'opus' END AS codec,
                   CAST(doc_id % 2 + 1 AS INTEGER) AS n_channels,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN
                        CASE CAST(doc_id % 4 AS INTEGER)
                             WHEN 0 THEN 8000 WHEN 1 THEN 22050
                             WHEN 2 THEN 44100 ELSE 48000 END
                        ELSE 16000 END AS INTEGER) AS sample_rate,
                   CAST((doc_id % 9 + 1) * 1000 AS BIGINT)
                       AS duration_ms
            FROM documents
        """,
        # ANALYTIC archive manifest: member order/names/sizes are
        # pure functions of (doc_id, strlen(text))
        "w_archive_list": """
            SELECT doc_id AS file_id, CAST(0 AS INTEGER) AS member_idx,
                   'doc.txt' AS name,
                   CAST(strlen(text) AS BIGINT) AS size,
                   CASE WHEN doc_id % 2 = 0 THEN 'deflate'
                        ELSE 'tar' END AS method
            FROM documents
            UNION ALL
            SELECT doc_id, CAST(1 AS INTEGER), 'meta.json',
                   CAST(8 + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT),
                   CASE WHEN doc_id % 2 = 0 THEN 'stored' ELSE 'tar' END
            FROM documents
        """,
        # round-trip identity on doc.txt + analytic meta.json
        "w_archive_extract": """
            SELECT doc_id AS file_id, 'doc.txt' AS name, text,
                   CAST(strlen(text) AS BIGINT) AS byte_len
            FROM documents
            UNION ALL
            SELECT doc_id, 'meta.json',
                   '{"id": ' || CAST(doc_id AS VARCHAR) || '}',
                   CAST(8 + strlen(CAST(doc_id AS VARCHAR)) AS BIGINT)
            FROM documents
        """,
        # ANALYTIC media-sniff replay over the doc_id%8 rotation
        "m_media_probe": """
            SELECT doc_id AS media_id,
                   CASE CAST(doc_id % 9 AS INTEGER)
                        WHEN 0 THEN 'PNG' WHEN 1 THEN 'JPEG'
                        WHEN 2 THEN 'WAV' WHEN 3 THEN 'MP4'
                        WHEN 4 THEN 'WEBP' WHEN 5 THEN 'FLAC'
                        WHEN 6 THEN 'GIF' WHEN 7 THEN 'TIFF'
                        ELSE 'MP3' END AS format,
                   CASE CAST(doc_id % 9 AS INTEGER)
                        WHEN 2 THEN 'audio' WHEN 5 THEN 'audio'
                        WHEN 8 THEN 'audio'
                        WHEN 3 THEN 'video' ELSE 'image' END AS kind,
                   CAST(CASE CAST(doc_id % 9 AS INTEGER)
                        WHEN 1 THEN 8 * (doc_id % 3 + 1)
                        WHEN 3 THEN 16 * (doc_id % 10 + 1)
                        WHEN 2 THEN NULL WHEN 5 THEN NULL
                        WHEN 8 THEN NULL
                        ELSE doc_id % 5 + 1 END AS INTEGER) AS width,
                   CAST(CASE CAST(doc_id % 9 AS INTEGER)
                        WHEN 1 THEN 8
                        WHEN 3 THEN 32
                        WHEN 2 THEN NULL WHEN 5 THEN NULL
                        WHEN 8 THEN NULL
                        ELSE doc_id % 3 + 1 END AS INTEGER) AS height,
                   CAST(CASE CAST(doc_id % 9 AS INTEGER)
                        WHEN 2 THEN doc_id % 9 + 1
                        WHEN 3 THEN (doc_id % 50 + 1) * 500
                        WHEN 5 THEN (doc_id % 9 + 1) * 1000
                        WHEN 8 THEN CASE WHEN doc_id % 2 = 0
                            THEN (doc_id % 6 + 2) * 1152 * 1000 // 44100
                            ELSE (doc_id % 6 + 2 + 37) * 1152 * 1000
                                 // 44100 END
                        ELSE NULL END AS BIGINT) AS duration_ms,
                   CAST(CASE CAST(doc_id % 9 AS INTEGER)
                        WHEN 2 THEN 8000 WHEN 5 THEN 8000
                        WHEN 8 THEN 44100
                        ELSE NULL END AS INTEGER) AS sample_rate,
                   CAST(CASE CAST(doc_id % 9 AS INTEGER)
                        WHEN 2 THEN 1 WHEN 5 THEN 1
                        WHEN 8 THEN CASE WHEN doc_id % 2 = 0
                                         THEN 2 ELSE 1 END
                        ELSE NULL END AS INTEGER) AS n_channels
            FROM documents
        """,
        # closed-form envelope replay (see _AENV_LVL_CTE)
        "m_audio_envelope": _AENV_LVL_CTE.format(
            md5cte=_MD5_BYTES_CTE_SQL
        ) + """
            SELECT doc_id AS media_id,
                   CAST(pos AS INTEGER) AS pos,
                   ('0x' || substr(md5(
                        CAST(pos AS VARCHAR) || ':' || array_to_string(
                        lvls[CAST(pos AS INTEGER):CAST(pos + 3 AS INTEGER)],
                        '-')), 1, 8))::BIGINT AS sh_hash
            FROM lv, UNNEST(generate_series(1, 13)) AS t(pos)
        """,
        # twin pairs with the doc's distinct-shingle count
        "m_audio_near_dup": _AENV_LVL_CTE.format(
            md5cte=_MD5_BYTES_CTE_SQL
        ) + """
            , dup AS (
                SELECT a.doc_id AS u, b.doc_id AS v
                FROM documents a JOIN documents b
                  ON a.text = b.text AND a.doc_id < b.doc_id
            )
            SELECT 2 * doc_id AS clip_a,
                   2 * doc_id + 1 AS clip_b,
                   CAST(13 AS BIGINT) AS shared_shingles
            FROM lv
            UNION ALL
            -- exact-duplicate TEXTS yield identical audio: all four
            -- cross pairs of the two docs' base+twin clips surface
            SELECT 2 * u + g.da AS clip_a, 2 * v + g.db AS clip_b,
                   CAST(13 AS BIGINT) AS shared_shingles
            FROM dup, (VALUES (0, 0), (0, 1), (1, 0), (1, 1))
                 AS g(da, db)
        """,
        # ANALYTIC WebP replay (variant rotation by doc_id%3)
        "m_webp_probe": """
            SELECT doc_id AS media_id,
                   'WEBP' AS format,
                   CASE CAST(doc_id % 3 AS INTEGER)
                        WHEN 0 THEN 'lossy'
                        WHEN 1 THEN 'lossless'
                        ELSE 'extended' END AS variant,
                   CAST(16 * (doc_id % 10 + 1) AS INTEGER) AS width,
                   CAST(8 * (doc_id % 6 + 1) AS INTEGER) AS height,
                   doc_id % 3 = 1 AND doc_id % 2 = 0 AS has_alpha,
                   doc_id % 3 = 2 AND doc_id % 2 = 0 AS has_animation,
                   doc_id % 3 = 2 AND doc_id % 4 = 0 AS has_exif
            FROM documents
        """,
        # ANALYTIC FLAC replay (STREAMINFO + comments from doc_id)
        "m_flac_probe": """
            WITH r AS (
                SELECT doc_id,
                       CASE CAST(doc_id % 4 AS INTEGER)
                            WHEN 0 THEN 8000 WHEN 1 THEN 22050
                            WHEN 2 THEN 44100 ELSE 48000 END AS sr
                FROM documents
            )
            SELECT doc_id AS media_id,
                   'FLAC' AS format,
                   CAST(sr AS INTEGER) AS sample_rate,
                   CAST(doc_id % 2 + 1 AS INTEGER) AS n_channels,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 24 END
                        AS INTEGER) AS bits_per_sample,
                   CAST(sr * (doc_id % 9 + 1) AS BIGINT)
                       AS total_samples,
                   CAST((doc_id % 9 + 1) * 1000 AS BIGINT)
                       AS duration_ms,
                   'Band ' || CAST(doc_id % 5 AS VARCHAR) AS artist,
                   'Track ' || CAST(doc_id % 7 AS VARCHAR) AS title,
                   doc_id % 4 = 0 AS has_picture
            FROM r
        """,
        # ANALYTIC MP4 probe replay (fixture contract in m_mp4_probe)
        "m_mp4_probe": """
            SELECT doc_id AS media_id,
                   'MP4' AS format,
                   'isom' AS major_brand,
                   CAST((doc_id % 50 + 1) * 500 AS BIGINT) AS duration_ms,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END
                        AS INTEGER) AS n_tracks,
                   CAST(16 * (doc_id % 10 + 1) AS INTEGER) AS width,
                   CAST(16 * (doc_id % 6 + 1) AS INTEGER) AS height,
                   TRUE AS has_video,
                   doc_id % 2 = 0 AS has_audio
            FROM documents
        """,
        # ANALYTIC replay of robots filtering: allowed/rule are pure
        # functions of the doc_id%6 path class under the synthesized
        # '*' group (most-specific rule, Allow-beats-Disallow-on-tie,
        # RFC 9309 wildcards: '/wild*card' and '*.pdf$')
        "w_robots_filter": """
            SELECT doc_id,
                   'http://h' || CAST(doc_id % 10 AS VARCHAR)
                       || '.example.com'
                       || CASE CAST(doc_id % 6 AS INTEGER)
                          WHEN 0 THEN '/public/page'
                          WHEN 1 THEN '/private/x'
                          WHEN 2 THEN '/private/ok/y'
                          WHEN 3 THEN '/tmp'
                          WHEN 4 THEN '/docs/file.pdf'
                          ELSE '/wild-very-card' END AS url,
                   CASE CAST(doc_id % 6 AS INTEGER)
                        WHEN 0 THEN TRUE
                        WHEN 2 THEN TRUE
                        ELSE FALSE END AS allowed,
                   CASE CAST(doc_id % 6 AS INTEGER)
                        WHEN 0 THEN NULL
                        WHEN 1 THEN '/private'
                        WHEN 2 THEN '/private/ok'
                        WHEN 3 THEN '/tmp'
                        WHEN 4 THEN '*.pdf$'
                        ELSE '/wild*card' END AS rule
            FROM documents
        """,
        # round-trip identity: gzip(text) -> decompress_text == text
        "p_decompress_text": """
            SELECT doc_id, text,
                   CAST(strlen(text) AS BIGINT) AS byte_len
            FROM documents
        """,
        # ANALYTIC replay of the WARC parse: both records' fields are
        # pure string functions of (doc_id, text) — template byte
        # lengths + strlen(text), md5 of the reconstructed blocks
        # CHARACTER-EXACT plist replay: XML and binary forms land on
        # the same JSON
        "w_plist_records": """
            SELECT doc_id AS file_id,
                   '{"name":"app-' || CAST(doc_id AS VARCHAR)
                   || '","n":' || CAST(doc_id % 1000 AS VARCHAR)
                   || ',"ok":' || CASE WHEN doc_id % 2 = 0
                                       THEN 'true' ELSE 'false' END
                   || ',"data":"'
                   || to_base64(unhex(substr(md5(text), 1, 6)))
                   || '","arr":[' || CAST(doc_id % 7 AS VARCHAR)
                   || ',"two"]}' AS record_json
            FROM documents
        """,
        # CHARACTER-EXACT SQLite row replay: tables in name order,
        # rows in rowid order, dyadic REAL text, blob base64
        "w_sqlite_rows": """
            SELECT doc_id AS file_id, 'logs' AS table_name,
                   CAST(0 AS BIGINT) AS row_idx,
                   '{"id":' || CAST(doc_id * 10 AS VARCHAR)
                   || ',"tag":"t' || CAST(doc_id % 5 AS VARCHAR)
                   || '","score":0.5,"raw":"'
                   || to_base64(unhex(substr(md5(text), 1, 6)))
                   || '"}' AS row_json
            FROM documents
            UNION ALL
            SELECT doc_id, 'logs', CAST(1 AS BIGINT),
                   '{"id":' || CAST(doc_id * 10 + 1 AS VARCHAR)
                   || ',"tag":null,"score":-1.25,"raw":""}'
            FROM documents
            UNION ALL
            SELECT doc_id, 'meta', CAST(0 AS BIGINT),
                   '{"k":"docs","v":' || CAST(doc_id % 100 AS VARCHAR)
                   || '}'
            FROM documents
        """,
        # ANALYTIC email replay: every header/body/count is a literal
        # function of doc_id; the mbox bodies carry the documented
        # trailing newline
        "w_email_parse": """
            SELECT doc_id AS file_id, CAST(0 AS INTEGER) AS msg_idx,
                   'a' || CAST(doc_id AS VARCHAR) || '@ex.com'
                       AS from_addr,
                   'b@ex.com' AS to_addrs,
                   'Héllo ' || CAST(doc_id AS VARCHAR) AS subject,
                   '2026-01-02T03:04:05+00:00' AS date_iso,
                   CAST(3 AS INTEGER) AS n_parts,
                   CAST(1 AS INTEGER) AS n_attachments,
                   'r' || CAST(doc_id % 4 AS VARCHAR) || '.pdf'
                       AS attachment_names,
                   TRUE AS has_html,
                   'Body ' || CAST(doc_id % 9 AS VARCHAR) || '.'
                       AS body_text
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, CAST(i AS INTEGER),
                   CASE i WHEN 0 THEN 'c' || CAST(doc_id AS VARCHAR)
                               || '@ex.com'
                          ELSE 'd@ex.com' END,
                   CAST(NULL AS VARCHAR),
                   CASE i WHEN 0 THEN 'first' ELSE 'second' END,
                   CAST(NULL AS VARCHAR),
                   CAST(1 AS INTEGER), CAST(0 AS INTEGER),
                   CAST(NULL AS VARCHAR), FALSE,
                   CASE i WHEN 0 THEN 'first body '
                               || CAST(doc_id % 7 AS VARCHAR) || chr(10)
                          ELSE 'plain ' || CAST(doc_id % 5 AS VARCHAR)
                               || chr(10) END
            FROM documents, (SELECT unnest([0, 1]) AS i)
            WHERE doc_id % 2 = 1
        """,
        # CHARACTER-EXACT TOML replay (underscore/hex ints evaluate,
        # the offset datetime renders ISO-8601 with +00:00)
        "w_toml_records": """
            SELECT doc_id AS file_id,
                   '{"package":{"name":"pkg-'
                   || CAST(doc_id AS VARCHAR)
                   || '","build":' || CAST(100 + doc_id % 10 AS VARCHAR)
                   || ',"mask":' || CAST(doc_id % 10 AS VARCHAR)
                   || ',"tags":["a","b"],"point":{"x":'
                   || CAST(doc_id % 7 AS VARCHAR)
                   || ',"y":true},"when":"2026-01-02T03:04:05+00:00"}'
                   || ',"bin":[{"path":"p'
                   || CAST(doc_id % 3 AS VARCHAR)
                   || '"},{"path":"q"}],"deps":{"sub":{"ok":false}}}'
                       AS record_json
            FROM documents
        """,
        # CHARACTER-EXACT YAML-subset replay (key insertion order)
        "w_yaml_records": """
            SELECT doc_id AS file_id,
                   '{"name":"doc-' || CAST(doc_id AS VARCHAR)
                   || '","count":' || CAST(doc_id % 100 AS VARCHAR)
                   || ',"ok":' || CASE WHEN doc_id % 2 = 0
                                       THEN 'true' ELSE 'false' END
                   || ',"tags":["t' || CAST(doc_id % 5 AS VARCHAR)
                   || '","x y"],"nested":{"a":'
                   || CAST(doc_id % 7 AS VARCHAR)
                   || ',"b":"plain text"},"items":[{"run":"step'
                   || CAST(doc_id % 3 AS VARCHAR)
                   || '","n":' || CAST(doc_id % 4 AS VARCHAR)
                   || '},"lone"],"script":"line '
                   || CAST(doc_id % 6 AS VARCHAR)
                   || '\\ntail\\n","missing":null}' AS record_json
            FROM documents
        """,
        # CHARACTER-EXACT msgpack replay (map insertion order)
        "w_msgpack_decode": """
            SELECT doc_id AS file_id,
                   '{"id":' || CAST(doc_id AS VARCHAR)
                   || ',"h":"~' || substr(md5(text), 1, 8)
                   || '","neg":-' || CAST(doc_id % 50 + 1 AS VARCHAR)
                   || ',"arr":[' || CAST(doc_id % 3 AS VARCHAR)
                   || ',"s",null],"m":{"7":"v'
                   || CAST(doc_id % 4 AS VARCHAR)
                   || '"},"bin":"//4="}' AS record_json
            FROM documents
        """,
        # CHARACTER-EXACT decode_raw replay
        "w_pb_decode": """
            SELECT doc_id AS file_id,
                   '{"1":' || CAST(doc_id AS VARCHAR)
                   || ',"2":"~h' || substr(md5(text), 1, 8)
                   || '","3":{"1":' || CAST(doc_id % 100 AS VARCHAR)
                   || ',"2":"~x' || CAST(doc_id % 9 AS VARCHAR)
                   || '"},"4":[' || CAST(doc_id % 5 AS VARCHAR)
                   || ',' || CAST(doc_id % 5 + 1 AS VARCHAR)
                   || '],"5":' || CAST(doc_id * 1000000 + 7 AS VARCHAR)
                   || ',"6":"//4="}' AS record_json
            FROM documents
        """,
        # CHARACTER-EXACT Avro record_json replay: the reader's JSON
        # dialect (compact separators, schema field order, unions
        # unwrapped, bytes base64) rebuilt with string functions
        "w_avro_records": """
            WITH two AS (SELECT unnest([0, 1]) AS r)
            SELECT doc_id AS file_id,
                   CAST(r AS INTEGER) AS row_idx,
                   '{"id":' || CAST(doc_id * 10 + r AS VARCHAR)
                   || ',"h":"' || md5(text)
                   || '","flag":' || CASE WHEN (doc_id + r) % 2 = 0
                                          THEN 'true' ELSE 'false' END
                   || ',"tags":' || CASE WHEN r = 0
                        THEN '["t' || CAST(doc_id % 5 AS VARCHAR)
                             || '","u"]'
                        ELSE '[]' END
                   || ',"note":' || CASE WHEN (doc_id + r) % 3 = 0
                        THEN 'null'
                        ELSE '"n' || CAST(doc_id % 7 AS VARCHAR)
                             || '"' END
                   || ',"kind":"'
                   || substr('ABC', ((doc_id + r) % 3) + 1, 1)
                   || '","pay":"'
                   || to_base64(unhex(substr(md5(text), 1, 8)))
                   || '"}' AS record_json
            FROM documents, two
        """,
        # ANALYTIC page-metadata replay: every field is a literal
        # function of doc_id % 3 (the decoded '&' included)
        "w_page_metadata": """
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'Title & ' || CAST(doc_id AS VARCHAR)
                   END AS og_title,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'Desc ' || CAST(doc_id AS VARCHAR)
                   END AS og_description,
                   CAST(NULL AS VARCHAR) AS og_image,
                   CASE WHEN doc_id % 3 = 0
                        THEN 'http://canon.example/'
                             || CAST(doc_id AS VARCHAR)
                   END AS canonical,
                   CASE doc_id % 3
                     WHEN 0 THEN 'meta desc'
                     WHEN 1 THEN 'only ' || CAST(doc_id AS VARCHAR)
                   END AS meta_description,
                   CASE doc_id % 3
                     WHEN 0 THEN 'Article'
                     WHEN 1 THEN 'NewsArticle'
                   END AS jsonld_type,
                   CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 1
                        ELSE 0 END AS INTEGER) AS n_jsonld
            FROM documents
        """,
        # chunk-window replay: generate_series over the chunk count,
        # substr re-derives each window (stride 140 = 180 - 40)
        "p_chunk_text": """
            WITH n AS (
                SELECT doc_id, text, length(text) AS len,
                       greatest(1, CAST(ceil((length(text) - 40)
                                             / 140.0) AS BIGINT))
                           AS n_chunks
                FROM documents
            ), e AS (
                SELECT doc_id, text,
                       unnest(generate_series(0, n_chunks - 1)) AS i
                FROM n
            )
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_idx,
                   doc_id * 100000 + i AS chunk_id,
                   md5(substr(text, i * 140 + 1, 180)) AS chunk_md5,
                   CAST(length(substr(text, i * 140 + 1, 180))
                        AS INTEGER) AS n_chars
            FROM e
        """,
        # ANALYTIC cc-index replay: the SURT is re-derived as SQL
        # string functions of doc_id — both the line's urlkey and the
        # recomputed transform must land on the same value
        "w_cdx_index": """
            WITH base AS (
                SELECT doc_id,
                       CAST(doc_id % 10 AS VARCHAR) AS k,
                       doc_id % 4 AS v
                FROM documents
            ), surt AS (
                SELECT doc_id, k, v,
                       CASE v
                         WHEN 0 THEN 'com,site' || k || ')/path'
                              || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
                         WHEN 1 THEN 'org,site' || k || ',sub:8443)/x'
                         WHEN 2 THEN 'net,site' || k || ')/'
                         ELSE 'io,site' || k || ')/a'
                       END AS sk
                FROM base
            )
            SELECT doc_id, sk AS urlkey,
                   CAST('2026-01-02 03:04:05' AS TIMESTAMP) AS ts,
                   CASE v
                     WHEN 0 THEN 'HTTP://WWW.Site' || k || '.COM/Path'
                          || CAST(doc_id AS VARCHAR) || '/?b=2&a=1'
                     WHEN 1 THEN 'https://sub.site' || k
                          || '.org:8443/x'
                     WHEN 2 THEN 'http://site' || k || '.net:80/'
                     ELSE 'https://www2.site' || k || '.io/a//'
                   END AS url,
                   'text/html' AS mime,
                   CAST(200 AS INTEGER) AS status,
                   CAST(doc_id % 9000 + 100 AS BIGINT) AS length,
                   CAST(42 AS BIGINT) AS offset,
                   'crawl-' || k || '.warc.gz' AS filename,
                   sk AS surt_recomputed
            FROM surt
        """,
        # ANALYTIC sitemap replay: every field is a literal function
        # of doc_id; the HTML third of the wheel contributes no rows
        "w_sitemap_parse": """
            WITH two AS (SELECT unnest([1, 2]) AS o)
            SELECT doc_id AS file_id, 'urlset' AS kind,
                   CAST(o AS INTEGER) AS ord,
                   CASE o WHEN 1 THEN 'http://ex.example/p?a='
                               || CAST(doc_id AS VARCHAR) || '&b=2'
                          ELSE 'http://ex.example/q/'
                               || CAST(doc_id AS VARCHAR) END AS loc,
                   CASE o WHEN 1 THEN '2026-01-02' END AS lastmod,
                   CASE o WHEN 1 THEN 'daily' END AS changefreq,
                   CASE o WHEN 1 THEN CAST(0.8 AS DOUBLE) END
                       AS priority
            FROM documents, two WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, 'index', CAST(o AS INTEGER),
                   'http://ex.example/sm' || CAST(o AS VARCHAR) || '-'
                       || CAST(doc_id AS VARCHAR) || '.xml',
                   CASE o WHEN 1 THEN '2025-12-31' END,
                   CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
            FROM documents, two WHERE doc_id % 3 = 1
        """,
        "w_warc_parse": """
            WITH two AS (SELECT unnest([0, 1]) AS r)
            SELECT doc_id AS file_id,
                   CAST(r AS INTEGER) AS rec_idx,
                   CASE r WHEN 0 THEN 'request' ELSE 'response' END
                       AS warc_type,
                   'http://example.com/doc/' || CAST(doc_id AS VARCHAR)
                       AS target_uri,
                   CAST(CASE r
                        WHEN 0 THEN 41 + length(CAST(doc_id AS VARCHAR))
                        ELSE 45 + strlen(text)
                   END AS BIGINT) AS content_length,
                   CAST(CASE r WHEN 0 THEN NULL ELSE 200 END AS INTEGER)
                       AS http_status,
                   CASE r WHEN 0 THEN NULL ELSE 'text/plain' END
                       AS http_content_type,
                   CASE r
                        WHEN 0 THEN md5('GET /doc/'
                            || CAST(doc_id AS VARCHAR) || ' HTTP/1.1'
                            || chr(13) || chr(10) || 'Host: example.com'
                            || chr(13) || chr(10) || chr(13) || chr(10))
                        ELSE md5(text)
                   END AS body_md5,
                   CAST(CASE r
                        WHEN 0 THEN 41 + length(CAST(doc_id AS VARCHAR))
                        ELSE strlen(text)
                   END AS BIGINT) AS body_len
            FROM documents, two
        """,
        # ANALYTIC replay of the 3-stage crawl chain (WARC ->
        # charset decode -> HTML extract): pure string functions of
        # (doc_id, ws-collapsed text) + the literal cp1251 suffix
        "w_crawl_pipeline": """
            WITH c AS (
                SELECT doc_id,
                       trim(regexp_replace(
                           text, '[ \t\n\x0B\f\r]+', ' ', 'g')) AS t
                FROM documents
            )
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   CASE WHEN t = ''
                        THEN 'home Привет'
                        ELSE 'home ' || t || ' Привет'
                   END AS text,
                   CAST(1 AS INTEGER) AS n_anchors,
                   CAST(length(CASE WHEN t = ''
                        THEN 'home Привет'
                        ELSE 'home ' || t || ' Привет'
                   END) AS INTEGER) AS text_len
            FROM c
        """,
        # ANALYTIC replay of the Office extraction: the oracle never
        # opens a ZIP or parses XML — each variant's part texts are
        # pure string functions of (doc_id, text)
        "w_office_extract": """
            WITH base AS (SELECT doc_id, text FROM documents),
            rows AS (
                SELECT doc_id, 'DOCX' AS format, 'document' AS part,
                       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                       || text || chr(10) || 'col a' || chr(9)
                       || 'col b' AS text
                FROM base WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id, 'PPTX', 'slide1',
                       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                       || text
                FROM base WHERE doc_id % 7 = 1
                UNION ALL
                SELECT doc_id, 'PPTX', 'slide2', 'deck end'
                FROM base WHERE doc_id % 7 = 1
                UNION ALL
                SELECT doc_id, 'XLSX', 'sheet1',
                       'id' || chr(9) || CAST(doc_id AS VARCHAR)
                       || chr(10) || text || chr(9) || 'x'
                FROM base WHERE doc_id % 7 IN (2, 3)
                UNION ALL
                SELECT doc_id, 'ODT', 'content',
                       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                       || text
                FROM base WHERE doc_id % 7 = 4
                UNION ALL
                SELECT doc_id, 'EPUB', 'spine1',
                       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                       || text || chr(10) || 'second line'
                FROM base WHERE doc_id % 7 = 5
                UNION ALL
                SELECT doc_id, 'EPUB', 'spine2', 'chapter two ✓'
                FROM base WHERE doc_id % 7 = 5
                UNION ALL
                SELECT doc_id, 'RTF', 'document',
                       'Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
                       || text || chr(10) || 'fin — déjà ✓'
                FROM base WHERE doc_id % 7 = 6
            )
            SELECT doc_id AS file_id, format, part, text,
                   CAST(length(text) AS INTEGER) AS n_chars
            FROM rows
        """,
        # ANALYTIC replay of the PDF extraction: the oracle never
        # parses a byte of PDF — page texts are pure string functions
        # of (doc_id, text); the writer-variant mix (doc_id % 12 —
        # twelve container shapes incl. xref-stream/objstm,
        # predictor, two Type0/Identity-H+ToUnicode composite-font
        # variants, and four encrypted empty-user-password variants:
        # RC4 R2/R3, AES-128 AESV2, AES-256 AESV3-R6) only changes
        # the CONTAINER, never the expected text
        "w_pdf_extract": """
            WITH two AS (SELECT unnest([0, 1]) AS p)
            SELECT doc_id AS file_id,
                   CAST(p AS INTEGER) AS page,
                   CASE p
                     WHEN 0 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                                 || chr(10) || text
                     ELSE 'café fin'
                   END AS text,
                   CAST(length(CASE p
                     WHEN 0 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
                                 || chr(10) || text
                     ELSE 'café fin'
                   END) AS INTEGER) AS n_chars
            FROM documents, two
        """,
        # ANALYTIC replay of the charset decode: the oracle never
        # touches bytes — the docs corpus is ASCII by construction,
        # so each variant's decoded text is doc text || a UTF-8
        # literal suffix and charset/source/n_replacements are pure
        # functions of doc_id % 8
        "w_decode_text": """
            SELECT doc_id,
                   CASE doc_id % 13
                     WHEN 0 THEN text || ' Ω bom'
                     WHEN 1 THEN text || ' ✓'
                     WHEN 2 THEN text || ' Привет'
                     WHEN 3 THEN text || ' ' || chr(8220) || 'q'
                                      || chr(8221)
                     WHEN 4 THEN '<meta charset="shift_jis">' || text
                                      || ' こんにちは'
                     WHEN 5 THEN '<meta http-equiv="Content-Type" '
                                 || 'content="text/html; '
                                 || 'charset=gb2312">' || text
                                 || ' 你好'
                     WHEN 6 THEN text || ' café ☕'
                     WHEN 7 THEN text || ' café' || chr(65533)
                     WHEN 8 THEN text || ' naïve café'
                     WHEN 9 THEN text || ' 中文网页内容测试'
                     WHEN 10 THEN text || ' これはテストです、ようこそ'
                     WHEN 11 THEN text || ' 日本語テキスト'
                     ELSE text || ' привет как дела хорошо'
                   END AS text,
                   CASE doc_id % 13
                     WHEN 0 THEN 'utf-16-le'
                     WHEN 1 THEN 'utf-8'
                     WHEN 2 THEN 'windows-1251'
                     WHEN 3 THEN 'windows-1252'
                     WHEN 4 THEN 'shift_jis'
                     WHEN 5 THEN 'gbk'
                     WHEN 6 THEN 'utf-8'
                     WHEN 7 THEN 'windows-1252'
                     WHEN 8 THEN 'utf-8'
                     WHEN 9 THEN 'gbk'
                     WHEN 10 THEN 'shift_jis'
                     WHEN 11 THEN 'iso-2022-jp'
                     ELSE 'windows-1251'
                   END AS charset,
                   CASE doc_id % 13
                     WHEN 0 THEN 'bom'
                     WHEN 1 THEN 'bom'
                     WHEN 2 THEN 'header'
                     WHEN 3 THEN 'header'
                     WHEN 4 THEN 'meta'
                     WHEN 5 THEN 'meta'
                     WHEN 6 THEN 'default'
                     WHEN 7 THEN 'fallback'
                     ELSE 'sniff'
                   END AS charset_source,
                   CAST(CASE WHEN doc_id % 13 = 7 THEN 1 ELSE 0 END
                        AS INTEGER) AS n_replacements
            FROM documents
        """,
        # ANALYTIC replay of the HTML extraction: the oracle never
        # parses HTML — the template makes the expected output a pure
        # string function of (doc_id, ws-collapsed text), valid
        # because escape -> entity-decode round-trips exactly
        "w_html_extract": """
            WITH c AS (
                SELECT doc_id,
                       -- explicit ASCII class, NOT \\s: Java \\s
                       -- includes \\x0B, RE2's does not
                       trim(regexp_replace(
                           text, '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS t
                FROM documents
            )
            SELECT doc_id,
                   'Doc ' || CAST(doc_id AS VARCHAR) AS title,
                   CASE WHEN t = ''
                        THEN 'home about Doc ' || CAST(doc_id AS VARCHAR)
                        ELSE 'home about Doc ' || CAST(doc_id AS VARCHAR)
                             || ' ' || t
                   END AS text,
                   CAST(2 AS INTEGER) AS n_anchors,
                   CAST(length(CASE WHEN t = ''
                        THEN 'home about Doc ' || CAST(doc_id AS VARCHAR)
                        ELSE 'home about Doc ' || CAST(doc_id AS VARCHAR)
                             || ' ' || t
                   END) AS INTEGER) AS text_len
            FROM c
        """,
        # arithmetic replay of the REAL MJPEG frame extraction: two
        # 32x24 frames per doc, frame f's levels are digest bytes
        # 12f+1..12f+12, each filling 64 of the 768 frame pixels
        "m_frame_sample_mjpeg": f"""
            WITH {_MD5_BYTES_CTE_SQL}
            SELECT doc_id AS media_id,
                   CAST(f AS INTEGER) AS frame_idx,
                   CAST(40 * f AS BIGINT) AS ts_ms,
                   CAST(32 AS INTEGER) AS width,
                   CAST(24 AS INTEGER) AS height,
                   CAST(
                     (250 * CAST(list_sum(
                        [bytes[12*f + i] for i in generate_series(1, 12)]
                     ) AS BIGINT)) // 3
                     AS BIGINT) AS mean_luma_fx
            FROM b, (SELECT unnest([0, 1]) AS f)
        """,
        # arithmetic replay of the REAL baseline-JPEG decode: the
        # DC-exact construction reproduces the 24 md5 bytes as block
        # levels bit-exactly, each filling 64 gray pixels of a 48x32
        # image -> mean_luma_fx = (1000*64*sum) // 1536 = (125*sum)//3
        "m_decode_jpeg": f"""
            WITH {_MD5_BYTES_CTE_SQL}
            SELECT doc_id AS media_id,
                   'JPEG' AS format,
                   CAST(48 AS INTEGER) AS width,
                   CAST(32 AS INTEGER) AS height,
                   CAST(1 AS INTEGER) AS channels,
                   CAST(
                     (125 * CAST(list_sum(bytes) AS BIGINT)) // 3
                     AS BIGINT) AS mean_luma_fx
            FROM b
        """,
        # arithmetic replay of the perceptual dhash: 6 comparison bits
        # over the md5-derived per-pixel integer lumas, MSB-first
        "m_image_dhash": f"""
            WITH {_MD5_BYTES_CTE_SQL}, l AS (
                SELECT doc_id,
                       [299*bytes[3*m+1] + 587*bytes[3*m+2]
                        + 114*bytes[3*m+3]
                        for m in generate_series(0, 7)] AS lum
                FROM b
            )
            SELECT doc_id AS media_id,
                   'P6' AS format,
                   CAST(
                     (CASE WHEN lum[1] > lum[2] THEN 32 ELSE 0 END)
                   + (CASE WHEN lum[2] > lum[3] THEN 16 ELSE 0 END)
                   + (CASE WHEN lum[3] > lum[4] THEN 8 ELSE 0 END)
                   + (CASE WHEN lum[5] > lum[6] THEN 4 ELSE 0 END)
                   + (CASE WHEN lum[6] > lum[7] THEN 2 ELSE 0 END)
                   + (CASE WHEN lum[7] > lum[8] THEN 1 ELSE 0 END)
                   AS BIGINT) AS dhash
            FROM l
        """,
        # ANALYTIC replay of banded perceptual near-dup: the twins are
        # CONSTRUCTED at hamming 1, and cross-doc 64-bit collisions
        # within radius 2 are probabilistically impossible at this n
        "m_dhash_near_dup": """
            SELECT 2*doc_id AS media_id_a,
                   2*doc_id + 1 AS media_id_b,
                   CAST(1 AS INTEGER) AS hamming
            FROM documents
        """,
        # arithmetic replay of the REAL TIFF decode: the SAME 24 pixel
        # bytes as m_decode_real (big-endian IFD + 2-strip layout
        # round-trip them) — only the format tag differs
        "m_decode_tiff": f"""
            WITH {_MD5_BYTES_CTE_SQL}
            SELECT doc_id AS media_id,
                   'TIFF' AS format,
                   CAST(4 AS INTEGER) AS width,
                   CAST(2 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS channels,
                   CAST(
                     (299 * CAST(list_sum([bytes[i] for i in [1,4,7,10,13,16,19,22]]) AS BIGINT)
                      + 587 * CAST(list_sum([bytes[i] for i in [2,5,8,11,14,17,20,23]]) AS BIGINT)
                      + 114 * CAST(list_sum([bytes[i] for i in [3,6,9,12,15,18,21,24]]) AS BIGINT))
                     // 8 AS BIGINT) AS mean_luma_fx
            FROM b
        """,
        # same pixel arithmetic as m_decode_tiff: LZW+Predictor2 /
        # PackBits are lossless, so the decoded pixels must be
        # byte-identical to the uncompressed gate's
        "m_decode_tiff_lzw": f"""
            WITH {_MD5_BYTES_CTE_SQL}
            SELECT doc_id AS media_id,
                   'TIFF' AS format,
                   CAST(4 AS INTEGER) AS width,
                   CAST(2 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS channels,
                   CAST(
                     (299 * CAST(list_sum([bytes[i] for i in [1,4,7,10,13,16,19,22]]) AS BIGINT)
                      + 587 * CAST(list_sum([bytes[i] for i in [2,5,8,11,14,17,20,23]]) AS BIGINT)
                      + 114 * CAST(list_sum([bytes[i] for i in [3,6,9,12,15,18,21,24]]) AS BIGINT))
                     // 8 AS BIGINT) AS mean_luma_fx
            FROM b
        """,
        # arithmetic replay of the REAL audio DSP gate: the same 12
        # signed 16-bit LE samples as m_decode_audio; zero crossings
        # count pairwise sign-bucket (v < 0) transitions, sum_abs and
        # peak are exact int64 — no WAV parsing and no FFT oracle-side
        # (the FFT columns are pinned by pure-tone pytest goldens)
        "m_audio_dsp": f"""
            WITH {_MD5_BYTES_CTE_SQL}, s AS (
                SELECT doc_id,
                       [CASE WHEN bytes[2*i-1] + 256*bytes[2*i] >= 32768
                             THEN bytes[2*i-1] + 256*bytes[2*i] - 65536
                             ELSE bytes[2*i-1] + 256*bytes[2*i] END
                        for i in generate_series(1, 12)] AS smp
                FROM b
            )
            SELECT doc_id AS media_id,
                   'WAV' AS format,
                   CAST(12 AS BIGINT) AS n_frames,
                   CAST(list_sum(
                       [CASE WHEN (smp[i] < 0) <> (smp[i-1] < 0)
                             THEN 1 ELSE 0 END
                        for i in generate_series(2, 12)]
                   ) AS BIGINT) AS zero_crossings,
                   CAST(list_sum([abs(v) for v in smp]) AS BIGINT)
                       AS sum_abs,
                   CAST(list_max([abs(v) for v in smp]) AS BIGINT)
                       AS peak_abs
            FROM s
        """,
        "m_resize": """
            SELECT doc_id AS media_id,
                   CAST(224 AS INTEGER) AS width,
                   CAST(224 AS INTEGER) AS height,
                   CAST(224 * 224 AS INTEGER) AS out_len,
                   md5(text) AS head_hex
            FROM documents
        """,
        # arithmetic replay of the REAL PNG decode: the SAME pixels as
        # m_decode_real (PNG filtering + zlib round-trips them), so the
        # luma arithmetic is identical — only the format tag differs.
        # An unfilter/inflate bug Spark-side breaks the equality.
        "m_decode_png": f"""
            WITH {_MD5_BYTES_CTE_SQL},
            a AS (SELECT [255,0,128,255,0,128,255,64] AS av)
            SELECT doc_id AS media_id,
                   'PNG' AS format,
                   CAST(4 AS INTEGER) AS width,
                   CAST(2 AS INTEGER) AS height,
                   CAST(CASE doc_id % 10
                        WHEN 2 THEN 4 WHEN 4 THEN 1
                        WHEN 6 THEN 2 WHEN 7 THEN 1
                        WHEN 8 THEN 1
                        ELSE 3 END AS INTEGER) AS channels,
                   CAST(CASE
                     WHEN doc_id % 10 IN (2, 5) THEN
                       list_sum([
                         299*((bytes[3*i-2]*av[i] + 255*(255-av[i]) + 127)//255)
                       + 587*((bytes[3*i-1]*av[i] + 255*(255-av[i]) + 127)//255)
                       + 114*((bytes[3*i]  *av[i] + 255*(255-av[i]) + 127)//255)
                         for i in generate_series(1, 8)]) // 8
                     WHEN doc_id % 10 = 4 THEN
                       1000 * list_sum([
                         CASE WHEN bytes[3*i-2] = bytes[1] THEN 255
                              ELSE bytes[3*i-2] END
                         for i in generate_series(1, 8)]) // 8
                     WHEN doc_id % 10 = 6 THEN
                       1000 * list_sum([
                         (bytes[3*i-2]*av[i] + 255*(255-av[i]) + 127)//255
                         for i in generate_series(1, 8)]) // 8
                     WHEN doc_id % 10 = 7 THEN
                       1000 * list_sum([bytes[3*i-2]
                         for i in generate_series(1, 8)]) // 8
                     WHEN doc_id % 10 = 8 THEN
                       1000 * list_sum([17 * (bytes[3*i-2] // 16)
                         for i in generate_series(1, 8)]) // 8
                     WHEN doc_id % 10 = 9 THEN
                       list_sum([
                         299*bytes[3*(bytes[3*i-2] % 4) + 1]
                       + 587*bytes[3*(bytes[3*i-2] % 4) + 2]
                       + 114*bytes[3*(bytes[3*i-2] % 4) + 3]
                         for i in generate_series(1, 8)]) // 8
                     ELSE
                       (299 * CAST(list_sum([bytes[i] for i in [1,4,7,10,13,16,19,22]]) AS BIGINT)
                        + 587 * CAST(list_sum([bytes[i] for i in [2,5,8,11,14,17,20,23]]) AS BIGINT)
                        + 114 * CAST(list_sum([bytes[i] for i in [3,6,9,12,15,18,21,24]]) AS BIGINT))
                       // 8
                   END AS BIGINT) AS mean_luma_fx
            FROM b, a
        """,
        # arithmetic replay of the REAL VP8L decode: lossless means
        # the decoded pixels ARE the md5 bytes for every bitstream
        # shape — only the alpha variant (composite over white) and
        # the LZ77 variant (row 1 duplicates row 0) change the luma;
        # channels=4 exactly when the alpha ramp was encoded
        "m_decode_webp": f"""
            WITH {_MD5_BYTES_CTE_SQL},
            a AS (SELECT [255,0,128,255,0,128,255,64] AS av)
            SELECT doc_id AS media_id,
                   'WEBP' AS format,
                   CAST(4 AS INTEGER) AS width,
                   CAST(2 AS INTEGER) AS height,
                   CAST(CASE WHEN doc_id % 8 = 2 THEN 4 ELSE 3 END
                        AS INTEGER) AS channels,
                   CAST(CASE
                     WHEN doc_id % 8 = 2 THEN
                       list_sum([
                         299*((bytes[3*i-2]*av[i] + 255*(255-av[i]) + 127)//255)
                       + 587*((bytes[3*i-1]*av[i] + 255*(255-av[i]) + 127)//255)
                       + 114*((bytes[3*i]  *av[i] + 255*(255-av[i]) + 127)//255)
                         for i in generate_series(1, 8)]) // 8
                     WHEN doc_id % 8 = 4 THEN
                       (2 * list_sum([
                         299*bytes[3*i-2] + 587*bytes[3*i-1]
                         + 114*bytes[3*i]
                         for i in generate_series(1, 4)])) // 8
                     ELSE
                       (299 * CAST(list_sum([bytes[i] for i in [1,4,7,10,13,16,19,22]]) AS BIGINT)
                        + 587 * CAST(list_sum([bytes[i] for i in [2,5,8,11,14,17,20,23]]) AS BIGINT)
                        + 114 * CAST(list_sum([bytes[i] for i in [3,6,9,12,15,18,21,24]]) AS BIGINT))
                       // 8
                   END AS BIGINT) AS mean_luma_fx
            FROM b, a
        """,
        # arithmetic replay of the REAL GIF decode: the SAME 24 pixel
        # bytes as m_decode_real/png (palette + LZW + deinterlace
        # round-trip them), laid out 2x4 — only format/dims differ.
        # An LZW or color-table bug Spark-side breaks the equality.
        "m_decode_gif": f"""
            WITH {_MD5_BYTES_CTE_SQL}
            SELECT doc_id AS media_id,
                   'GIF' AS format,
                   CAST(CASE WHEN doc_id % 3 = 1 THEN 4 ELSE 2 END
                        AS INTEGER) AS width,
                   CAST(CASE WHEN doc_id % 3 = 1 THEN 6 ELSE 4 END
                        AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS channels,
                   CAST(CASE doc_id % 3
                     WHEN 1 THEN
                       (299 * CAST(list_sum([bytes[i] for i in [1,4,7,10,13,16,19,22]]) AS BIGINT)
                        + 587 * CAST(list_sum([bytes[i] for i in [2,5,8,11,14,17,20,23]]) AS BIGINT)
                        + 114 * CAST(list_sum([bytes[i] for i in [3,6,9,12,15,18,21,24]]) AS BIGINT)
                        + 16 * 255000)
                       // 24
                     WHEN 2 THEN
                       list_sum([
                         CASE WHEN bytes[3*i-2] = bytes[1]
                               AND bytes[3*i-1] = bytes[2]
                               AND bytes[3*i]   = bytes[3]
                              THEN 255000
                              ELSE 299*bytes[3*i-2] + 587*bytes[3*i-1]
                                   + 114*bytes[3*i] END
                         for i in generate_series(1, 8)]) // 8
                     ELSE
                       (299 * CAST(list_sum([bytes[i] for i in [1,4,7,10,13,16,19,22]]) AS BIGINT)
                        + 587 * CAST(list_sum([bytes[i] for i in [2,5,8,11,14,17,20,23]]) AS BIGINT)
                        + 114 * CAST(list_sum([bytes[i] for i in [3,6,9,12,15,18,21,24]]) AS BIGINT))
                       // 8
                   END AS BIGINT) AS mean_luma_fx
            FROM b
        """,
        "d_simhash": _simhash_oracle(bits=32),
        "d_minhash_pairs": _minhash_oracle(num_hashes=16, bands=4),
        "s_cosine_topk": _cosine_topk_oracle(),
        # sign-bit packing replay: MSB-first acc*2+bit fold per
        # 32-dim word (list_reduce with a SCALAR acc — the struct
        # in-place bug pinned for the ADPCM oracle doesn't apply)
        "s_binary_quantize": f"""
            WITH {_BINARY_BITS_CTE}
            SELECT vec_id, CAST(w - 1 AS INTEGER) AS word_idx,
                   bits[CAST(w AS INTEGER)] AS word
            FROM bits, UNNEST(generate_series(1, len(bits))) AS t(w)
        """,
        "s_hamming_topk": f"""
            WITH {_BINARY_BITS_CTE},
            q AS (
                SELECT vec_id AS query_id, bits AS qb FROM bits
                WHERE vec_id < 10
            ),
            c AS (SELECT vec_id AS neighbor_id, bits AS cb FROM bits),
            s AS (
                SELECT query_id, neighbor_id,
                       CAST(list_sum([bit_count(xor(qb[i], cb[i]))
                                      for i in generate_series(1, len(qb))])
                            AS BIGINT) AS hamming
                FROM q, c WHERE query_id <> neighbor_id
            ),
            r AS (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY hamming, neighbor_id
                ) AS rank FROM s
            )
            SELECT query_id, neighbor_id, hamming,
                   CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 5
        """,
        "s_quantize_embeddings": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), m AS (
                SELECT vec_id, v, list_max([abs(x) for x in v]) AS ma FROM e
            ), s AS (
                SELECT vec_id, v,
                       CASE WHEN ma = 0 THEN 0.0 ELSE 127.0 / ma END AS sc
                FROM m
            )
            SELECT vec_id, round(sc, 6) AS scale,
                   array_to_string(
                       [CAST(CAST(floor(x * sc + 0.5) AS TINYINT) AS VARCHAR)
                        for x in v], ',') AS q
            FROM s
        """,
        "s_embedding_near_dup": _near_dup_oracle(threshold=0.3, num_planes=4, dim=64),
        "s_incremental_embed": _incremental_embed_oracle(
            threshold=0.3, num_planes=4, dim=64
        ),
        "s_ann_lsh": _ann_lsh_oracle(num_planes=4, dim=64, k=5, n_queries=10),
        "s_ann_recall": _ann_recall_oracle(k=5),
        "s_ann_ivf": _ann_ivf_oracle(n_cells=8, nprobe=2, k=5, n_queries=10),
        "s_ivf_train": _ivf_train_oracle(k=8, iters=2, dim=64),
        "s_ann_ivf_trained": _ann_ivf_trained_oracle(
            k_cells=8, iters=2, dim=64, nprobe=2, k=5, n_queries=10
        ),
        "s_semantic_dedup": _semantic_dedup_oracle(
            k=8, iters=2, dim=64, threshold=0.4
        ),
        "q_asof_join": """
            WITH p AS (
                SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
            ), c AS (
                SELECT user_id, ts AS click_ts, event_id AS click_id
                FROM events WHERE event_type = 'click'
            )
            SELECT p.user_id, p.ts, p.event_id, c.click_id, c.click_ts
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.click_ts
        """,
        "q_salted_join": """
            SELECT s_nationkey, count(*) AS n_items,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            GROUP BY s_nationkey
        """,
        "q_salted_agg": """
            SELECT event_type, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
                   min(value) AS min_value,
                   max(value) AS max_value,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS avg_value
            FROM events GROUP BY event_type
        """,
        "q_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "a_spec_windowed_agg": """
            SELECT date_trunc('hour', ts) AS hour, event_type AS etype,
                   count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total,
                   count(DISTINCT user_id) AS users
            FROM events GROUP BY 1, 2
        """,
        "a_spec_sliding_window": """
            WITH w AS (
                SELECT unnest([
                           time_bucket(INTERVAL '30 minutes', ts),
                           time_bucket(INTERVAL '30 minutes', ts)
                               - INTERVAL '30 minutes'
                       ]) AS wstart,
                       event_type, value
                FROM events
            )
            SELECT wstart, event_type AS etype, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
            FROM w GROUP BY 1, 2
        """,
        "a_spec_join": """
            SELECT c_nationkey AS nation, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY 1
        """,
        "a_spec_anti_join": """
            SELECT event_type AS etype, count(*) AS n
            FROM events
            WHERE NOT EXISTS (
                SELECT 1 FROM supplier WHERE s_suppkey = user_id)
            GROUP BY event_type
        """,
        "a_spec_stream_join": """
            SELECT l.user_id AS uid, count(*) AS n_pairs
            FROM events l JOIN events r ON l.user_id = r.user_id
            WHERE l.event_type = 'purchase' AND r.event_type = 'click'
              AND l.ts >= r.ts AND l.ts <= r.ts + INTERVAL 1 HOUR
            GROUP BY l.user_id
        """,
        "a_spec_session_window": """
            WITH marked AS (
                SELECT user_id AS uid, ts, value,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), numbered AS (
                SELECT *, sum(new_session) OVER (
                    PARTITION BY uid ORDER BY ts
                    ROWS UNBOUNDED PRECEDING) AS seq
                FROM marked
            )
            SELECT uid, min(ts) AS session_start,
                   count(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS session_value
            FROM numbered GROUP BY uid, seq
        """,
        "a_spec_dedup": """
            SELECT DISTINCT user_id AS uid, event_type AS etype FROM events
        """,
        "a_spec_sql": """
            SELECT event_type AS etype, count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total,
                   count(DISTINCT user_id) AS users
            FROM events WHERE value > 10
            GROUP BY event_type
        """,
        "k_max_versions": """
            SELECT CAST(user_id AS VARCHAR) AS row_key, event_id, event_type, ts
            FROM events
            QUALIFY row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC) <= 2
        """,
        "p_training_prep": f"""
            WITH enriched AS (
                SELECT doc_id, lang, source,
                       len({_TOKENS_SQL}) AS n_tokens,
                       length(text) AS nc,
                       md5({_NORM_SQL}) AS h
                FROM documents
                WHERE len({_TOKENS_SQL}) >= 40
            ), deduped AS (
                SELECT * FROM enriched
                QUALIFY row_number() OVER (PARTITION BY h ORDER BY doc_id) = 1
            )
            SELECT source, lang, count(*) AS n_docs,
                   sum(n_tokens) AS total_tokens,
                   CAST(sum(nc) AS DOUBLE) / count(*) AS avg_chars
            FROM deduped GROUP BY 1, 2
        """,
        "e_eventsim_batch": _eventsim_oracle(seed=42, n=10_000),
        "u_user_agent": _user_agent_oracle(),
        # winnowing replay: gram md5-32bit hashes, per-window list_min
        # over the slice, rightmost tie via list_max of matching
        # offsets, DISTINCT = the engine's array_distinct
        "t_winnow_fingerprint": f"""
            {_WINNOW_FP_CTE}
            SELECT doc_id, pos, fp_hash FROM fp
        """,
        "t_winnow_overlap": f"""
            {_WINNOW_FP_CTE},
            ph AS (SELECT DISTINCT doc_id, fp_hash FROM fp),
            ok AS (
                SELECT fp_hash FROM ph
                GROUP BY fp_hash HAVING count(*) <= 16
            ),
            keep AS (SELECT doc_id, fp_hash FROM ph JOIN ok USING (fp_hash))
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   count(*) AS shared_fps
            FROM keep a JOIN keep b
              ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 3
        """,
        "t_decontaminate": f"""
            WITH toked AS (
                SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
            ), sh AS (
                SELECT doc_id,
                       unnest(list_distinct(
                           [array_to_string(toks[i:i+4], ' ')
                            for i in generate_series(1, greatest(len(toks) - 4, 1))]
                       )) AS shingle
                FROM toked
            ), shf AS (
                SELECT doc_id, shingle FROM sh WHERE shingle <> ''
            ), ev AS (
                SELECT DISTINCT shingle FROM shf WHERE doc_id % 97 = 0
            ), hits AS (
                SELECT s.doc_id, count(*) AS n
                FROM shf s JOIN ev USING (shingle) GROUP BY 1
            )
            SELECT d.doc_id,
                   coalesce(n, 0) AS n_contaminated_shingles,
                   coalesce(n, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
        """,
        "t_bloom_decontaminate": f"""
            WITH toked AS (
                SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
            ), sh AS (
                SELECT doc_id,
                       unnest(list_distinct(
                           [array_to_string(toks[i:i+4], ' ')
                            for i in generate_series(1, greatest(len(toks) - 4, 1))]
                       )) AS shingle
                FROM toked
            ), shf AS (
                SELECT doc_id, shingle FROM sh WHERE shingle <> ''
            ), ev AS (
                SELECT DISTINCT shingle FROM shf WHERE doc_id % 97 = 0
            ), seeds AS (
                SELECT unnest([0, 1, 2, 3]) AS i
            ), evpos AS (
                SELECT DISTINCT
                       ('0x' || substr(md5(shingle || '|' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 1048576 AS pos
                FROM ev CROSS JOIN seeds
            ), probe AS (
                SELECT doc_id, shingle,
                       ('0x' || substr(md5(shingle || '|' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 1048576 AS pos
                FROM shf CROSS JOIN seeds
            ), cand AS (
                SELECT doc_id, shingle
                FROM probe LEFT JOIN evpos e ON probe.pos = e.pos
                GROUP BY doc_id, shingle
                HAVING count(e.pos) = 4
            ), per_doc AS (
                SELECT c.doc_id,
                       count(*) AS n_cand,
                       sum(CASE WHEN ev.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
                FROM cand c LEFT JOIN ev ON c.shingle = ev.shingle
                GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_cand, 0) AS n_candidate_shingles,
                   coalesce(n_hit, 0) AS n_contaminated_shingles,
                   coalesce(n_hit, 0) > 0 AS contaminated
            FROM documents d LEFT JOIN per_doc ON d.doc_id = per_doc.doc_id
        """,
        "p_pack_sequences": f"""
            WITH per AS (
                SELECT source, doc_id, len({_TOKENS_SQL}) AS n_tokens
                FROM documents
            ), b AS (
                SELECT source, n_tokens,
                       CAST(floor(coalesce(sum(n_tokens) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) / 2048.0) AS BIGINT) AS bin_id
                FROM per
            )
            SELECT source, bin_id, count(*) AS n_docs,
                   sum(n_tokens) AS total_tokens
            FROM b GROUP BY 1, 2
        """,
        "t_redact_pii": _redact_pii_oracle(),
        "p_source_quota": """
            SELECT doc_id, source FROM (
                SELECT doc_id, source, row_number() OVER (
                    PARTITION BY source
                    ORDER BY md5(CAST(doc_id AS VARCHAR) || 'q1') ASC,
                             doc_id ASC) AS r
                FROM documents)
            WHERE r <= 15
        """,
        "s_centroid_classify": """
            WITH fx AS (
                SELECT vec_id, label,
                       [CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                        for x in embedding] AS fx
                FROM embeddings
            ), s AS (
                SELECT label, i, CAST(sum(fx[i]) AS BIGINT) AS s, count(*) AS cnt
                FROM fx, (SELECT unnest(generate_series(1, 64)) AS i) ix
                GROUP BY label, i
            ), c AS (
                SELECT label AS clab,
                       list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY i) AS c
                FROM s GROUP BY label
            ), d AS (
                SELECT f.vec_id, f.label, c.clab,
                       CAST(list_sum([(f.fx[i] - c.c[i]) * (f.fx[i] - c.c[i])
                                      for i in generate_series(1, 64)]) AS BIGINT) AS d
                FROM fx f CROSS JOIN c
            ), a AS (
                SELECT vec_id, label, clab AS predicted
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY vec_id ORDER BY d, clab) AS rn
                      FROM d)
                WHERE rn = 1
            )
            SELECT label, predicted, count(*) AS n FROM a GROUP BY label, predicted
        """,
        "q_eval_auc": """
            WITH fx AS (
                SELECT vec_id, label,
                       [CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                        for x in embedding] AS fx,
                       [-63, 62, 60, 58, 56, 54, 52, 50, 48, 46, 44, 42, 40, 38, 36, 34, 32, 30, 28, 26, 24, 22, 20, 18, 16, 14, 12, 10, 8, 6, 4, 2, 0, -2, -4, -6, -8, -10, -12, -14, -16, -18, -20, -22, -24, -26, -28, -30, -32, -34, -36, -38, -40, -42, -44, -46, -48, -50, -52, -54, -56, -58, -60, -62] AS w
                FROM embeddings
            ), sc AS (
                SELECT CAST(vec_id % 4 AS INTEGER) AS grp,
                       CASE WHEN label >= 5 THEN 1 ELSE 0 END AS is_pos,
                       CAST(list_sum([fx[i] * w[i]
                                      for i in generate_series(1, 64)]) AS BIGINT) AS score
                FROM fx
            ), r AS (
                SELECT grp, is_pos,
                       CAST(2 * rank() OVER (PARTITION BY grp ORDER BY score)
                            + count(*) OVER (PARTITION BY grp, score)
                            - 1 AS BIGINT) AS avg_rank2
                FROM sc
            ), a AS (
                SELECT grp,
                       CAST(sum(is_pos) AS BIGINT) AS n_pos,
                       CAST(sum(1 - is_pos) AS BIGINT) AS n_neg,
                       CAST(sum(is_pos * avg_rank2) AS BIGINT) AS r2
                FROM r GROUP BY grp
            )
            SELECT grp, n_pos, n_neg,
                   CAST(r2 - n_pos * (n_pos + 1) AS BIGINT) AS u2,
                   CAST(r2 - n_pos * (n_pos + 1) AS DOUBLE)
                       / CAST(2 * n_pos * n_neg AS DOUBLE) AS auc
            FROM a
        """,
        "t_classifier_score": f"""
            WITH tok AS (
                SELECT doc_id,
                       [t for t in {_TOKENS_SQL} if t <> ''] AS toks
                FROM documents
            ), t2 AS (
                SELECT doc_id, unnest(toks) AS tok FROM tok
            ), tw AS (
                SELECT doc_id,
                       ('0x' || substr(md5('w|' || CAST(
                            ('0x' || substr(md5(tok), 1, 8))::BIGINT % 4096
                        AS VARCHAR)), 1, 8))::BIGINT % 2001 - 1000 AS w
                FROM t2
            ), agg AS (
                SELECT doc_id, CAST(sum(w) AS BIGINT) AS s FROM tw GROUP BY doc_id
            )
            SELECT k.doc_id,
                   len(k.toks) AS n_tokens,
                   COALESCE(a.s, 0) AS score_fx,
                   COALESCE(a.s, 0) > 0 AS predicted
            FROM tok k LEFT JOIN agg a USING (doc_id)
        """,
        "q_promo_revenue": """
            WITH j AS (
                SELECT CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS rev,
                       p_type
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= '1997-09-01' AND l_shipdate < '1997-10-01'
            ), a AS (
                SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev
                                     ELSE CAST(0.0 AS DECIMAL(38,6)) END) AS DOUBLE) AS promo_revenue,
                       CAST(SUM(rev) AS DOUBLE) AS total_revenue
                FROM j
            )
            SELECT promo_revenue, total_revenue,
                   100.0 * promo_revenue / total_revenue AS promo_share_pct
            FROM a
        """,
        "q_data_quality": """
            WITH t AS (
                SELECT count(*) AS total,
                       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v_nn,
                       count(o_orderkey) AS nn_u,
                       count(DISTINCT o_orderkey) AS d_u,
                       sum(CASE WHEN o_orderstatus IS NULL
                                  OR o_orderstatus NOT IN ('O','F','P')
                                THEN 1 ELSE 0 END) AS v_av,
                       sum(CASE WHEN o_totalprice IS NULL
                                  OR o_totalprice < 0 OR o_totalprice > 500000
                                THEN 1 ELSE 0 END) AS v_r1,
                       sum(CASE WHEN o_totalprice IS NULL
                                  OR o_totalprice < 0 OR o_totalprice > 300000
                                THEN 1 ELSE 0 END) AS v_r2,
                       sum(CASE WHEN o_orderpriority IS NULL
                                  OR NOT regexp_matches(o_orderpriority, '^[1-5]-')
                                THEN 1 ELSE 0 END) AS v_m
                FROM orders
            ), r AS (
                SELECT count(o.o_custkey) AS rt,
                       sum(CASE WHEN o.o_custkey IS NOT NULL
                                 AND p.c_custkey IS NULL
                                THEN 1 ELSE 0 END) AS rv
                FROM orders o
                LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) p
                  ON o.o_custkey = p.c_custkey
            ), rows_ AS (
                SELECT 'not_null(o_custkey)' AS "constraint", 'o_custkey' AS "column",
                       v_nn AS violations, total, 1.0 AS min_frac FROM t
                UNION ALL SELECT 'unique(o_orderkey)', 'o_orderkey',
                       (nn_u - d_u) + (total - nn_u), total, 1.0 FROM t
                UNION ALL SELECT 'accepted_values(o_orderstatus)', 'o_orderstatus',
                       v_av, total, 1.0 FROM t
                UNION ALL SELECT 'in_range(o_totalprice)', 'o_totalprice',
                       v_r1, total, 1.0 FROM t
                UNION ALL SELECT 'in_range(o_totalprice)', 'o_totalprice',
                       v_r2, total, 0.95 FROM t
                UNION ALL SELECT 'matches(o_orderpriority)', 'o_orderpriority',
                       v_m, total, 1.0 FROM t
                UNION ALL SELECT 'ref_integrity(o_custkey)', 'o_custkey',
                       COALESCE(rv, 0), rt, 1.0 FROM r
            )
            SELECT "constraint", "column",
                   CAST(violations AS BIGINT) AS violations,
                   CAST(total AS BIGINT) AS total,
                   CAST(total - violations AS DOUBLE)
                       / CAST(greatest(total, 1) AS DOUBLE) AS pass_fraction,
                   (CAST(total - violations AS DOUBLE)
                       / CAST(greatest(total, 1) AS DOUBLE)) >= min_frac AS passed
            FROM rows_
        """,
        "q_distribution_drift": """
            WITH b AS (
                SELECT o_orderkey % 2 = 0 AS is_ref,
                       least(greatest(CAST(floor(o_totalprice / 15625.0) AS BIGINT),
                                      0), 31) AS bin
                FROM orders WHERE o_totalprice IS NOT NULL
            ), r AS (
                SELECT bin, count(*) AS ref_n FROM b WHERE is_ref GROUP BY bin
            ), c AS (
                SELECT bin, count(*) AS cur_n FROM b WHERE NOT is_ref GROUP BY bin
            ), j AS (
                SELECT COALESCE(r.bin, c.bin) AS bin,
                       COALESCE(ref_n, 0) AS ref_n,
                       COALESCE(cur_n, 0) AS cur_n
                FROM r FULL OUTER JOIN c ON r.bin = c.bin
            ), t AS (
                SELECT bin, ref_n, cur_n,
                       sum(ref_n) OVER () AS rt, sum(cur_n) OVER () AS ct
                FROM j
            ), terms AS (
                SELECT rt, ct,
                       abs(CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE)
                           - CAST(cur_n AS DOUBLE) / CAST(ct AS DOUBLE)) AS tvd_term,
                       CASE WHEN ref_n > 0 THEN
                           (CAST(cur_n AS DOUBLE)
                            - CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                           * (CAST(cur_n AS DOUBLE)
                              - CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                           / (CAST(ref_n AS DOUBLE) / CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))
                       ELSE 0.0 END AS chi_term
                FROM t
            )
            SELECT CAST(max(rt) AS BIGINT) AS n_ref,
                   CAST(max(ct) AS BIGINT) AS n_cur,
                   CAST(count(*) AS BIGINT) AS n_bins,
                   CAST(sum(CAST(tvd_term AS DECIMAL(38,12))) AS DOUBLE) / 2.0 AS tvd,
                   CAST(sum(CAST(chi_term AS DECIMAL(38,12))) AS DOUBLE) AS chi2
            FROM terms
        """,
        "q_anomaly_zscore": """
            WITH base AS (
                SELECT event_id, user_id, value AS v,
                       count(*) OVER w AS n_window,
                       CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s,
                       CAST(sum(CAST(value * value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sq
                FROM events
                WINDOW w AS (
                    PARTITION BY user_id ORDER BY epoch_us(ts)
                    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
            ), z AS (
                SELECT event_id, user_id, CAST(n_window AS BIGINT) AS n_window,
                       CASE WHEN n_window >= 5
                                 AND (sq - s * s / CAST(n_window AS DOUBLE))
                                     / (CAST(n_window AS DOUBLE) - 1) > 0
                            THEN (v - s / CAST(n_window AS DOUBLE))
                                 / sqrt((sq - s * s / CAST(n_window AS DOUBLE))
                                        / (CAST(n_window AS DOUBLE) - 1))
                       END AS zscore
                FROM base
            )
            SELECT event_id, user_id, n_window, zscore,
                   COALESCE(abs(zscore) > 2.0, FALSE) AS is_anomaly
            FROM z
        """,
        # replays substring_dup_spans exactly: stride-1 40-gram
        # inverted index -> position join -> diagonal run merge
        "d_substring_spans": """
            WITH grams AS (
                SELECT doc_id, i.i AS pos, md5(substr(text, i.i, 40)) AS g
                FROM documents,
                LATERAL (SELECT unnest(generate_series(
                    1, greatest(length(text) - 39, 0))) AS i) i
            ), m AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.pos AS pa, a.pos - b.pos AS diag
                FROM grams a JOIN grams b
                  ON a.g = b.g AND a.doc_id < b.doc_id
            ), runs AS (
                SELECT doc_a, doc_b, diag, pa,
                       CASE WHEN pa - lag(pa) OVER w = 1 THEN 0 ELSE 1 END AS brk
                FROM m
                WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
            ), numbered AS (
                SELECT *, sum(brk) OVER (
                    PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run_id
                FROM runs
            ), spans AS (
                SELECT doc_a, doc_b, max(pa) - min(pa) + 40 AS span
                FROM numbered GROUP BY doc_a, doc_b, diag, run_id
            )
            SELECT doc_a, doc_b, count(*) AS n_spans,
                   max(span) AS max_span, sum(span) AS total_shared
            FROM spans GROUP BY doc_a, doc_b
        """,
        "q_cheapest_supplier": """
            WITH priced AS (
                SELECT p_brand, l_suppkey,
                       min(l_extendedprice) AS min_price
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2
            )
            SELECT p_brand, s_suppkey, s_name, min_price
            FROM priced JOIN supplier ON l_suppkey = s_suppkey
            WHERE min_price = (
                SELECT min(min_price) FROM priced p2
                WHERE p2.p_brand = priced.p_brand)
        """,
        "q_small_qty_revenue": """
            WITH li AS (
                SELECT l_partkey, l_quantity, l_extendedprice
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_brand = 'Brand#1'
            ), pp AS (
                SELECT l_partkey AS pk,
                       sum(CAST(l_quantity AS DECIMAL(38,6))) AS qty_total,
                       CAST(count(*) AS DECIMAL(12,0)) AS n
                FROM li GROUP BY 1
            )
            SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6)))
                        AS DOUBLE) / 7.0 AS avg_yearly
            FROM li JOIN pp ON l_partkey = pk
            WHERE 5 * CAST(l_quantity AS DECIMAL(38,6)) * n < qty_total
        """,
        "q_late_suppliers": """
            WITH li AS (
                SELECT l_orderkey, l_suppkey,
                       l_shipdate > o_orderdate + INTERVAL 90 DAY AS is_late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            ), per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN is_late THEN l_suppkey END)
                           AS n_late_supp,
                       max(CASE WHEN is_late THEN l_suppkey END) AS late_supp
                FROM li GROUP BY 1
            )
            SELECT s_suppkey, s_name, count(*) AS numwait
            FROM per_order JOIN supplier ON late_supp = s_suppkey
            WHERE n_supp > 1 AND n_late_supp = 1
            GROUP BY 1, 2
        """,
        "q_top_supplier": """
            WITH rev AS (
                SELECT l_suppkey,
                       sum(CAST(l_extendedprice * (1 - l_discount)
                                AS DECIMAL(38,6))) AS r
                FROM lineitem
                WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, CAST(r AS DOUBLE) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE r = (SELECT max(r) FROM rev)
        """,
        # replays assign_shards + shard_manifest md5 arithmetic
        "p_shard_manifest": """
            WITH rows_ AS (
                SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                            1, 8))::BIGINT % 8 AS INT)
                           AS shard,
                       strlen(coalesce(CAST(doc_id AS VARCHAR), ''))
                       + strlen(coalesce(text, ''))
                       + strlen(coalesce(source, '')) AS bytes_,
                       ('0x' || substr(md5(concat_ws(chr(31),
                           coalesce(CAST(doc_id AS VARCHAR), chr(0) || 'null'),
                           coalesce(text, chr(0) || 'null'),
                           coalesce(source, chr(0) || 'null')
                       )), 1, 14))::BIGINT AS fp
                FROM documents
            )
            SELECT shard, count(*) AS n_rows, sum(bytes_) AS total_bytes,
                   CAST(sum(fp) AS VARCHAR) AS content_digest
            FROM rows_ GROUP BY shard
        """,
        "q_volume_shipping": """
            SELECT supp_nation, cust_nation, l_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM (
                SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                       EXTRACT(year FROM l_shipdate) AS l_year,
                       l_extendedprice, l_discount
                FROM lineitem
                JOIN orders   ON l_orderkey = o_orderkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN customer ON o_custkey = c_custkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN nation n2 ON c_nationkey = n2.n_nationkey
                WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                  AND l_shipdate <  TIMESTAMP '1998-01-01'
                  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            )
            GROUP BY supp_nation, cust_nation, l_year
            ORDER BY supp_nation, cust_nation, l_year
        """,
        "q_market_share": """
            SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                   CAST(SUM(CAST(CASE WHEN n1.n_name = 'NATION_3'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END AS DECIMAL(38,6)))
                        AS DOUBLE)
                   / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(38,6))) AS DOUBLE)
                       AS mkt_share,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(38,6))) AS DOUBLE)
                       AS total_volume
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region   ON n2.n_regionkey = r_regionkey
            WHERE p_type = 'PROMO' AND r_name = 'EUROPE'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01'
            GROUP BY o_year ORDER BY o_year
        """,
        "q_product_profit": """
            SELECT n_name AS nation,
                   EXTRACT(year FROM l_shipdate) AS o_year,
                   CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 - p_retailprice * l_quantity
                                 AS DECIMAL(38,6))) AS DOUBLE) AS sum_profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_type = 'PROMO'
            GROUP BY n_name, o_year
            ORDER BY nation, o_year DESC
        """,
        "q_late_priority": """
            SELECT l_linestatus,
                   SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS high_line_count,
                   SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
            GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "q_order_count_dist": """
            WITH per_cust AS (
                SELECT c_custkey, count(o_orderkey) AS c_count
                FROM customer
                LEFT JOIN (
                    SELECT o_custkey, o_orderkey FROM orders
                    WHERE o_orderpriority <> '5-LOW'
                ) q ON c_custkey = o_custkey
                GROUP BY c_custkey
            )
            SELECT c_count, count(*) AS custdist
            FROM per_cust GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "q_disjunctive_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                                 AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        # replays text.line_dedup over the same injected 3-line docs
        "t_line_dedup": """
            WITH base AS (
                SELECT doc_id,
                       ['Shared cookie banner: accept all cookies to continue',
                        text,
                        'footer section number ' || CAST(doc_id % 7 AS VARCHAR)
                       ] AS ls
                FROM documents
            ), lines AS (
                SELECT doc_id, i - 1 AS pos, ls[i] AS line
                FROM base, unnest(generate_series(1, len(ls))) AS t(i)
            ), el AS (
                SELECT doc_id, pos, line,
                       md5(lower(trim(line))) AS lkey,
                       strlen(lower(trim(line))) >= 10 AS elig
                FROM lines
            ), dup AS (
                SELECT lkey
                FROM (SELECT DISTINCT lkey, doc_id FROM el WHERE elig)
                GROUP BY lkey HAVING count(*) >= 2
            ), surv AS (
                SELECT doc_id, pos, line FROM el
                WHERE NOT (elig AND lkey IN (SELECT lkey FROM dup))
            ), reb AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY pos) AS text,
                       count(*) AS n_lines_kept
                FROM surv GROUP BY doc_id
            ), tot AS (
                SELECT doc_id, count(*) AS n_total FROM lines GROUP BY doc_id
            )
            SELECT t.doc_id,
                   md5(coalesce(r.text, '')) AS text_md5,
                   coalesce(r.n_lines_kept, 0) AS n_lines_kept,
                   t.n_total - coalesce(r.n_lines_kept, 0) AS n_lines_dropped
            FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
        """,
        "s_pq_adc": _pq_adc_oracle(
            m=4, k=16, iters=2, dim=64, n_queries=10, k_top=5
        ),
        # replays dedup.fuzzy_match_pairs over the same injected names
        "d_fuzzy_match": """
            WITH src AS (
                SELECT c_custkey,
                       'user ' || substr(md5(CAST(c_custkey AS VARCHAR)),
                                         1, 10) AS nm,
                       (c_custkey % 15) + 1 AS p
                FROM customer
            ), recs AS (
                SELECT c_custkey * 2 AS rid, nm AS raw FROM src
                UNION ALL
                SELECT c_custkey * 2 + 1,
                       substr(nm, 1, CAST(p - 1 AS INT))
                       || substr(nm, CAST(p + 1 AS INT), 99)
                FROM src
            ), base AS (
                SELECT rid,
                       lower(regexp_replace(trim(raw), '\\s+', ' ', 'g')) AS s
                FROM recs
                WHERE strlen(lower(regexp_replace(trim(raw), '\\s+', ' ', 'g'))) >= 3
            ), grams AS (
                SELECT DISTINCT rid, s, substr(s, CAST(i AS INT), 3) AS g
                FROM base,
                     unnest(generate_series(1, strlen(s) - 2)) AS t(i)
            ), capped AS (
                SELECT rid, s, g FROM (
                    SELECT *, count(*) OVER (PARTITION BY g) AS gf FROM grams
                ) WHERE gf <= 200
            ), cand AS (
                SELECT a.rid AS id_a, b.rid AS id_b,
                       max(a.s) AS s_a, max(b.s) AS s_b
                FROM capped a JOIN capped b
                  ON a.g = b.g AND a.rid < b.rid
                 AND abs(strlen(a.s) - strlen(b.s)) <= 2
                GROUP BY a.rid, b.rid
            )
            SELECT id_a, id_b, levenshtein(s_a, s_b) AS dist
            FROM cand WHERE levenshtein(s_a, s_b) <= 2
        """,
        # replays text.fix_text over the same injected mojibake (only
        # the injected sequences can occur, so the un-triggered table
        # entries are no-ops on both sides)
        "t_markdown_strip": _markdown_oracle(),
        "t_fix_text": """
            WITH inj AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 = 0 THEN text
                            ELSE text || ' caf' || chr(195) || chr(169)
                                 || ' it' || chr(226) || chr(8364) || chr(8482)
                                 || 's here'
                                 || chr(226) || chr(8364) || chr(166) || ' '
                                 || chr(7) || ' end'
                       END AS t
                FROM documents
            ), fixed AS (
                SELECT doc_id, t,
                       trim(regexp_replace(regexp_replace(
                           replace(replace(replace(t,
                               chr(226) || chr(8364) || chr(8482), ''''),
                               chr(226) || chr(8364) || chr(166), '...'),
                               chr(195) || chr(169), chr(233)),
                           '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
                           '[ \\t]{2,}', ' ', 'g')) AS f
                FROM inj
            )
            SELECT doc_id, md5(f) AS text_md5, f <> t AS changed FROM fixed
        """,
        "q_pagerank": _pagerank_oracle(iters=3),
        "p_negatives": _negatives_oracle(
            num_hashes=16, bands=4, k=3, oversample=3
        ),
        "p_kfold": _kfold_oracle(num_hashes=16, bands=4, k=5),
        "d_keep_best": _keep_best_oracle(num_hashes=16, bands=4),
        "d_cluster_sizes": _cluster_sizes_oracle(num_hashes=16, bands=4),
        # replays calibration_bins' exact-integer fixed-width binning
        # over the same probe scores as q_eval_auc
        "q_deletion_plan": """
            SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS part,
                   CAST(sum(CASE WHEN user_id % 13 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_delete,
                   CAST(sum(CASE WHEN user_id % 13 = 0 THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_keep,
                   sum(CASE WHEN user_id % 13 = 0 THEN 1 ELSE 0 END) > 0
                       AS rewrite
            FROM events GROUP BY 1
        """,
        "p_reconcile_files": """
            WITH listing AS (
                SELECT 'part-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                           AS path,
                       n_chars * 7 + 100 AS bytes_
                FROM documents
            ), manifest AS (
                SELECT 'part-' || lpad(CAST(doc_id AS VARCHAR), 6, '0'),
                       n_chars * 7 + 100
                FROM documents WHERE doc_id % 13 <> 0
                UNION ALL
                SELECT 'phantom-' || lpad(CAST(doc_id AS VARCHAR), 6, '0'),
                       1000
                FROM documents WHERE doc_id % 17 = 0
            ), j AS (
                SELECT coalesce(l.path, m.path) AS path,
                       coalesce(l.bytes_, m.bytes_) AS bytes_,
                       CASE WHEN m.path IS NULL THEN 'orphan'
                            WHEN l.path IS NULL THEN 'missing'
                            ELSE 'ok' END AS status
                FROM listing l
                FULL OUTER JOIN manifest m(path, bytes_) ON l.path = m.path
            )
            SELECT status, count(*) AS n_files, sum(bytes_) AS total_bytes
            FROM j GROUP BY status
        """,
        "q_seasonal_naive": """
            WITH hourly AS (
                SELECT event_type, date_trunc('hour', ts) AS h,
                       count(*) AS n
                FROM events GROUP BY 1, 2
            )
            SELECT c.event_type, count(*) AS n_hours,
                   CAST(sum(abs(c.n - p.n)) AS BIGINT) AS total_abs_err,
                   CAST(max(abs(c.n - p.n)) AS BIGINT) AS max_abs_err
            FROM hourly c JOIN hourly p
              ON p.event_type = c.event_type
             AND p.h + INTERVAL 168 HOUR = c.h
            GROUP BY c.event_type
        """,
        "q_attribution": """
            WITH staged AS (
                SELECT event_id, user_id, event_type,
                       first_value(CASE WHEN event_type IN ('click', 'view')
                                        THEN event_type END IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS first_touch,
                       last_value(CASE WHEN event_type IN ('click', 'view')
                                       THEN event_type END IGNORE NULLS)
                           OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING) AS last_touch
                FROM events
            )
            SELECT first_touch, last_touch, count(*) AS n_conversions
            FROM staged WHERE event_type = 'purchase'
            GROUP BY 1, 2
        """,
        # replays sorted_neighborhood_pairs: forward + reversed-key
        # passes, window-3 leads inside 8-char prefix blocks
        "d_sorted_neighborhood": """
            WITH recs AS (
                SELECT c_custkey * 2 AS rid,
                       'user' || lpad(CAST(c_custkey AS VARCHAR), 6, '0')
                           AS raw
                FROM customer
                UNION ALL
                SELECT c_custkey * 2 + 1,
                       'user' || lpad(CAST(c_custkey AS VARCHAR), 6, '0')
                           || 'x'
                FROM customer
            ), base AS (
                SELECT rid,
                       lower(regexp_replace(trim(raw), '\\s+', ' ', 'g')) AS s
                FROM recs
            ), passes AS (
                SELECT rid, s, s AS k FROM base
                UNION ALL
                SELECT rid, s, reverse(s) FROM base
            ), cand AS (
                SELECT rid, s,
                       lead(rid, 1) OVER w AS r1, lead(s, 1) OVER w AS s1,
                       lead(rid, 2) OVER w AS r2, lead(s, 2) OVER w AS s2,
                       lead(rid, 3) OVER w AS r3, lead(s, 3) OVER w AS s3
                FROM passes
                WINDOW w AS (PARTITION BY k LIKE 'user%', substr(k, 1, 8)
                             ORDER BY k, rid)
            ), flat AS (
                SELECT rid, s, r1 AS rid2, s1 AS sx FROM cand WHERE r1 IS NOT NULL
                UNION ALL
                SELECT rid, s, r2, s2 FROM cand WHERE r2 IS NOT NULL
                UNION ALL
                SELECT rid, s, r3, s3 FROM cand WHERE r3 IS NOT NULL
            )
            SELECT id_a, id_b, CAST(min(dist) AS INT) AS dist
            FROM (SELECT least(rid, rid2) AS id_a,
                         greatest(rid, rid2) AS id_b,
                         levenshtein(s, sx) AS dist
                  FROM flat)
            GROUP BY id_a, id_b HAVING min(dist) <= 2
        """,
        "q_profile": " UNION ALL ".join(
            f"""
            SELECT '{c}' AS "column", count(*) AS n_rows,
                   CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null,
                   count(DISTINCT {c}) AS n_distinct,
                   min(CAST({c} AS VARCHAR)) AS min_str,
                   max(CAST({c} AS VARCHAR)) AS max_str
            FROM customer
            """
            for c in ["c_custkey", "c_name", "c_nationkey", "c_mktsegment"]
        ),
        # replays source_centroid_drift: fixed-point sums, the lloyd
        # floor-division spelling, pairwise centroid cosine
        "s_source_drift": """
            WITH fx AS (
                SELECT d.source,
                       [CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                        for x in e.embedding] AS fx
                FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
            ), sums AS (
                SELECT source, i,
                       CAST(sum(fx[i]) AS BIGINT) AS s,
                       count(*) AS cnt
                FROM fx, (SELECT unnest(generate_series(1, 64)) AS i) ix
                GROUP BY source, i
            ), cent AS (
                SELECT source,
                       list(CAST((s - (((s % cnt) + cnt) % cnt)) // cnt
                                 AS DOUBLE) ORDER BY i) AS c
                FROM sums GROUP BY source
            )
            SELECT a.source AS src_a, b.source AS src_b,
                   round(list_dot_product(a.c, b.c)
                         / (sqrt(list_dot_product(a.c, a.c))
                            * sqrt(list_dot_product(b.c, b.c))), 6)
                       AS cosine
            FROM cent a JOIN cent b ON a.source < b.source
        """,
        "t_oov_rate": f"""
            WITH base AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 3 > 0
                            THEN text || ' ' || array_to_string(
                                [('zq' || CAST(doc_id AS VARCHAR) || 'x'
                                  || CAST(i AS VARCHAR))
                                 for i in generate_series(1, doc_id % 3)],
                                ' ')
                            ELSE text END AS text
                FROM documents
            ), tok AS (
                SELECT doc_id, t.t
                FROM base, unnest({_TOKENS_SQL}) AS t(t)
                WHERE t.t <> ''
            ), vocab AS (
                SELECT t FROM (
                    SELECT t, count(*) AS tf FROM tok GROUP BY t
                    HAVING count(*) >= 2
                    ORDER BY tf DESC, t ASC LIMIT 100)
            )
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_oov,
                   CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / greatest(count(*), 1) AS oov_rate
            FROM tok LEFT JOIN vocab v ON tok.t = v.t
            GROUP BY doc_id
        """,
        "s_lsh_tuning": _lsh_tuning_oracle(
            min_planes=2, max_planes=4, dim=64
        ),
        "s_hard_negatives": _hard_negatives_oracle(
            num_planes=4, dim=64, k=5, n_queries=10,
            threshold=0.999, overfetch=4,
        ),
        # two GROUPING SETS datasheets (same classification as
        # p_corpus_datasheet) full-outer joined on (metric, dimension)
        "p_datasheet_diff": f"""
            WITH oldd AS (
                SELECT doc_id, text, lang, source FROM documents
            ), newd AS (
                SELECT doc_id, text, lang, source FROM documents
                WHERE doc_id % 7 <> 0
                UNION ALL
                SELECT doc_id + 1000000, text, lang, source FROM documents
                WHERE doc_id % 10 = 0
            ), sa AS (
                SELECT CASE WHEN GROUPING(lang) = 0 THEN 'lang'
                            WHEN GROUPING(source) = 0 THEN 'source'
                            ELSE 'all' END AS metric,
                       CASE WHEN GROUPING(lang) = 0
                                THEN coalesce(lang, '<null>')
                            WHEN GROUPING(source) = 0
                                THEN coalesce(source, '<null>')
                            ELSE '*' END AS dimension,
                       count(*) AS old_docs,
                       sum(len({_TOKENS_SQL})) AS old_tokens
                FROM oldd GROUP BY GROUPING SETS ((), (lang), (source))
            ), sb AS (
                SELECT CASE WHEN GROUPING(lang) = 0 THEN 'lang'
                            WHEN GROUPING(source) = 0 THEN 'source'
                            ELSE 'all' END AS metric,
                       CASE WHEN GROUPING(lang) = 0
                                THEN coalesce(lang, '<null>')
                            WHEN GROUPING(source) = 0
                                THEN coalesce(source, '<null>')
                            ELSE '*' END AS dimension,
                       count(*) AS new_docs,
                       sum(len({_TOKENS_SQL})) AS new_tokens
                FROM newd GROUP BY GROUPING SETS ((), (lang), (source))
            )
            SELECT coalesce(sa.metric, sb.metric) AS metric,
                   coalesce(sa.dimension, sb.dimension) AS dimension,
                   coalesce(old_docs, 0) AS old_docs,
                   coalesce(new_docs, 0) AS new_docs,
                   coalesce(new_docs, 0) - coalesce(old_docs, 0)
                       AS docs_delta,
                   coalesce(new_tokens, 0) - coalesce(old_tokens, 0)
                       AS tokens_delta
            FROM sa FULL OUTER JOIN sb
              ON sa.metric = sb.metric AND sa.dimension = sb.dimension
        """,
        # replays split.importance_sample's capped acceptance draw
        "p_importance_sample": """
            WITH m AS (
                SELECT CAST(sum(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
                       / count(*) AS mw
                FROM documents
            ), k AS (
                SELECT d.* FROM documents d, m
                WHERE ('0x' || substr(md5('imp|'
                          || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                      / 4294967296.0
                      < least(1.0, 0.3 * n_chars / mw)
            )
            SELECT source, count(*) AS n_kept, sum(n_chars) AS kept_chars
            FROM k GROUP BY source
        """,
        # Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6
        "q_seasonality": """
            SELECT event_type,
                   CAST(dayofweek(ts) + 1 AS INT) AS dow,
                   CAST(hour(ts) AS INT) AS hod,
                   count(*) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS total_value
            FROM events GROUP BY 1, 2, 3
        """,
        "q_winsorize": """
            WITH b AS (
                SELECT event_id, event_type, value,
                       quantile_cont(value, 0.01)
                           OVER (PARTITION BY event_type) AS lo,
                       quantile_cont(value, 0.99)
                           OVER (PARTITION BY event_type) AS hi
                FROM events
            )
            SELECT event_id, event_type, value AS raw_value,
                   round(least(greatest(value, lo), hi), 6)
                       AS clipped_value,
                   value <> least(greatest(value, lo), hi) AS was_clipped
            FROM b
        """,
        # canonical a<b<c triangle enumeration over the same md5 graph
        # as q_pagerank (orientation is a Spark-side skew guard only —
        # both forms count each triangle exactly once)
        "q_triangles": """
            WITH nd AS (SELECT count(*) AS n FROM documents),
            edges AS (
                SELECT doc_id AS src,
                       ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                           || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                       % (SELECT n FROM nd) AS dst
                FROM documents, unnest([1, 2, 3]) AS t(j)
            ),
            und AS (
                SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
                FROM edges WHERE src <> dst
            ),
            tri AS (
                SELECT e1.u AS a, e1.v AS b, e2.v AS c
                FROM und e1
                JOIN und e2 ON e2.u = e1.v
                JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v
            )
            SELECT node, count(*) AS n_triangles
            FROM tri, unnest([a, b, c]) AS t(node)
            GROUP BY node
        """,
        # same session ids as q_sessionize, then pair self-join over
        # the distinct (user, session, type) table
        "q_cooccurrence": """
            WITH marked AS (
                SELECT user_id, event_id, ts, event_type,
                       CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                            THEN 1 ELSE 0 END AS new_session
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), numbered AS (
                SELECT *, sum(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
                FROM marked
            ), st AS (
                SELECT DISTINCT user_id, session_seq, event_type
                FROM numbered
            )
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   count(*) AS n_sessions
            FROM st a JOIN st b
              ON a.user_id = b.user_id
             AND a.session_seq = b.session_seq
             AND a.event_type < b.event_type
            GROUP BY 1, 2 HAVING count(*) >= 2
        """,
        # replays drift.cusum_alarms' fold as a recursive CTE: same
        # (ts, event_id) order, same IEEE chain per step
        "q_cusum_alarms": """
            WITH RECURSIVE ev AS (
                SELECT user_id, value,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS rn
                FROM events
            ), m AS (
                SELECT user_id,
                       CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                           / count(*) AS mean,
                       count(*) AS n_events
                FROM events GROUP BY user_id
            ), rec(user_id, rn, hi, lo, alarms, peak) AS (
                SELECT user_id, 0, CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE),
                       CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE) FROM m
                UNION ALL
                SELECT e.user_id, e.rn,
                       CASE WHEN greatest(0.0, r.hi + (e.value - m.mean - 25.0)) > 200.0
                              OR greatest(0.0, r.lo - (e.value - m.mean + 25.0)) > 200.0
                            THEN 0.0
                            ELSE greatest(0.0, r.hi + (e.value - m.mean - 25.0)) END,
                       CASE WHEN greatest(0.0, r.hi + (e.value - m.mean - 25.0)) > 200.0
                              OR greatest(0.0, r.lo - (e.value - m.mean + 25.0)) > 200.0
                            THEN 0.0
                            ELSE greatest(0.0, r.lo - (e.value - m.mean + 25.0)) END,
                       r.alarms + CASE WHEN
                           greatest(0.0, r.hi + (e.value - m.mean - 25.0)) > 200.0
                           OR greatest(0.0, r.lo - (e.value - m.mean + 25.0)) > 200.0
                           THEN 1 ELSE 0 END,
                       greatest(r.peak,
                           greatest(0.0, r.hi + (e.value - m.mean - 25.0)),
                           greatest(0.0, r.lo - (e.value - m.mean + 25.0)))
                FROM rec r
                JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
                JOIN m ON m.user_id = r.user_id
            )
            SELECT r.user_id, m.n_events,
                   CAST(floor(m.mean * 1000) AS BIGINT) AS mean_milli,
                   r.alarms AS n_alarms,
                   CAST(floor(r.peak * 1000) AS BIGINT) AS max_cusum_milli
            FROM rec r JOIN m ON m.user_id = r.user_id
            WHERE r.rn = m.n_events
        """,
        "q_robust_anomaly": """
            WITH a AS (
                SELECT event_id, user_id, value,
                       quantile_cont(value, 0.5)
                           OVER (PARTITION BY user_id) AS med,
                       count(*) OVER (PARTITION BY user_id) AS n
                FROM events
            ), b AS (
                SELECT *, quantile_cont(abs(value - med), 0.5)
                              OVER (PARTITION BY user_id) AS mad
                FROM a
            )
            SELECT event_id, user_id, value,
                   CASE WHEN n < 8 OR mad <= 0 THEN NULL
                        ELSE round((value - med) / (mad * 1.4826), 6)
                   END AS robust_z
            FROM b
        """,
        "s_ann_multiprobe": _ann_multiprobe_oracle(
            num_planes=4, dim=64, k=5, n_queries=10
        ),
        "q_eval_calibration": f"""
            WITH fx AS (
                SELECT label,
                       [CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)
                        for x in embedding] AS fx,
                       {list(_PROBE_WEIGHTS)} AS w
                FROM embeddings
            ), sc AS (
                SELECT CASE WHEN label >= 5 THEN 1 ELSE 0 END AS is_pos,
                       CAST(list_sum([fx[i] * w[i]
                                      for i in generate_series(1, 64)])
                            AS BIGINT) AS score
                FROM fx
            ), rng AS (
                SELECT min(score) AS lo, max(score) AS hi FROM sc
            )
            SELECT CAST(((score - lo) * 10) // (hi - lo + 1) AS BIGINT)
                       AS bin,
                   count(*) AS n,
                   CAST(sum(is_pos) AS BIGINT) AS n_pos,
                   CAST(sum(is_pos) AS DOUBLE) / count(*) AS pos_rate,
                   min(score) AS lo_score,
                   max(score) AS hi_score
            FROM sc, rng GROUP BY 1
        """,
        # replays the export chain: quality gate -> exact dedup ->
        # token-budget packing -> md5 shard of (source, bin)
        "p_training_export": f"""
            WITH qf AS (
                SELECT doc_id, text, source FROM documents
                WHERE len({_TOKENS_SQL}) >= 20
            ), dd AS (
                SELECT doc_id, text, source
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY md5(text) ORDER BY doc_id) AS dr
                      FROM qf)
                WHERE dr = 1
            ), tok AS (
                SELECT source, doc_id, len({_TOKENS_SQL}) AS n_tokens
                FROM dd
            ), binned AS (
                SELECT source, doc_id, n_tokens,
                       coalesce(sum(n_tokens) OVER (
                           PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) // 512 AS bin_id
                FROM tok
            ), bins AS (
                SELECT source, bin_id, count(*) AS n_docs,
                       sum(n_tokens) AS total_tokens
                FROM binned GROUP BY source, bin_id
            )
            SELECT CAST(('0x' || substr(md5(source || '|'
                        || CAST(bin_id AS VARCHAR)), 1, 8))::BIGINT % 8
                        AS INT) AS shard,
                   count(*) AS n_bins,
                   sum(n_docs) AS n_docs,
                   sum(total_tokens) AS total_tokens
            FROM bins GROUP BY 1
        """,
        # replays classify.weak_label's vote/tie/abstain logic
        "t_weak_label": """
            WITH lf AS (
                SELECT doc_id,
                       text LIKE '%spark%' AS lf_has_spark,
                       text LIKE '%table%' AS lf_has_table,
                       text LIKE '%customer%' AS lf_has_customer,
                       text LIKE '%order%' AS lf_has_order
                FROM documents
            ), v AS (
                SELECT *,
                       CAST(lf_has_spark AS INT)
                       + CAST(lf_has_table AS INT) AS v_tech,
                       CAST(lf_has_customer AS INT)
                       + CAST(lf_has_order AS INT) AS v_business
                FROM lf
            )
            SELECT doc_id,
                   CASE WHEN greatest(v_tech, v_business) <= 0 THEN 'abstain'
                        WHEN v_tech = v_business THEN 'abstain'
                        WHEN v_business > v_tech THEN 'business'
                        ELSE 'tech' END AS weak_label,
                   CAST(greatest(v_tech, v_business) AS INT) AS n_votes,
                   lf_has_spark, lf_has_table, lf_has_customer, lf_has_order
            FROM v
        """,
        "t_inverted_index": f"""
            WITH td AS (
                SELECT DISTINCT doc_id, t.term
                FROM documents,
                     unnest(list_distinct({_TOKENS_SQL})) AS t(term)
                WHERE t.term <> ''
            )
            SELECT term, count(*) AS df,
                   array_to_string(
                       (list_sort(list(doc_id)))[1:20], ',') AS postings
            FROM td GROUP BY term HAVING count(*) >= 2
        """,
        "p_corpus_datasheet": f"""
            WITH base AS (
                SELECT lang, source,
                       len({_TOKENS_SQL}) AS tok,
                       strlen(text) AS chr_, md5(text) AS h
                FROM documents
            )
            SELECT CASE WHEN GROUPING(lang) = 0 THEN 'lang'
                        WHEN GROUPING(source) = 0 THEN 'source'
                        ELSE 'all' END AS metric,
                   CASE WHEN GROUPING(lang) = 0
                            THEN coalesce(lang, '<null>')
                        WHEN GROUPING(source) = 0
                            THEN coalesce(source, '<null>')
                        ELSE '*' END AS dimension,
                   count(*) AS n_docs,
                   sum(tok) AS n_tokens,
                   sum(chr_) AS n_chars,
                   count(DISTINCT h) AS n_distinct_texts
            FROM base
            GROUP BY GROUPING SETS ((), (lang), (source))
        """,
        "a_spec_analytic_window": """
            WITH base AS (
                SELECT event_id AS eid, user_id AS uid,
                       event_type AS etype,
                       CAST(value AS DOUBLE) AS amount, ts
                FROM events
            ), wn AS (
                SELECT uid, eid,
                       row_number() OVER (
                           PARTITION BY uid ORDER BY ts, eid) AS rn,
                       lag(etype, 1) OVER (
                           PARTITION BY uid ORDER BY ts, eid) AS prev_type,
                       CAST(sum(CAST(amount AS DECIMAL(38,6))) OVER (
                           PARTITION BY uid ORDER BY ts, eid
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS DOUBLE) AS cum_amount
                FROM base
            )
            SELECT uid, eid, rn, prev_type, cum_amount
            FROM wn WHERE rn <= 5
        """,
        # replays the compiled pipeline step by step (fixText's
        # mojibake replaces are no-ops on the clean corpus, so only
        # its regex/trim stages appear; quota = md5(doc_id) order)
        "p_spec_pipeline": f"""
            WITH base AS (
                SELECT doc_id, text, source FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text, source FROM documents
                WHERE doc_id % 10 = 0
            ), fx AS (
                SELECT doc_id,
                       trim(regexp_replace(regexp_replace(text,
                           '[\\x00-\\x08\\x0b-\\x1f\\x7f]', '', 'g'),
                           '[ \\t]{{2,}}', ' ', 'g')) AS text,
                       source
                FROM base
            ), dd AS (
                SELECT doc_id, text, source
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY md5(text) ORDER BY doc_id) AS dr
                      FROM fx)
                WHERE dr = 1
            ), qf AS (
                SELECT * FROM dd WHERE len({_TOKENS_SQL}) >= 20
            ), sq AS (
                SELECT doc_id, text, source
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ) AS qr FROM qf)
                WHERE qr <= 40
            )
            SELECT source, count(*) AS n_docs,
                   sum(len({_TOKENS_SQL})) AS total_tokens
            FROM sq GROUP BY source
        """,
        # replays integrity.partition_digests + backfill_plan over the
        # same perturbed copy of events
        "q_backfill_plan": """
            WITH ev AS (
                SELECT event_id, user_id, event_type, ts FROM events
            ), newev AS (
                SELECT event_id, user_id,
                       CASE WHEN dayofyear(ts) % 11 = 1
                            THEN event_type || '_v2' ELSE event_type END
                           AS event_type,
                       ts
                FROM ev WHERE dayofyear(ts) % 11 <> 0
                UNION ALL
                SELECT event_id, user_id, event_type,
                       ts + INTERVAL 3650 DAY
                FROM ev WHERE dayofyear(ts) % 11 = 2
            ), od AS (
                SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS part,
                       count(*) AS n_rows,
                       CAST(sum(('0x' || substr(md5(concat_ws(chr(31),
                           coalesce(CAST(event_id AS VARCHAR), chr(0) || 'null'),
                           coalesce(CAST(user_id AS VARCHAR), chr(0) || 'null'),
                           coalesce(event_type, chr(0) || 'null')
                       )), 1, 14))::BIGINT) AS VARCHAR) AS digest
                FROM ev GROUP BY 1
            ), nd AS (
                SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS part,
                       count(*) AS n_rows,
                       CAST(sum(('0x' || substr(md5(concat_ws(chr(31),
                           coalesce(CAST(event_id AS VARCHAR), chr(0) || 'null'),
                           coalesce(CAST(user_id AS VARCHAR), chr(0) || 'null'),
                           coalesce(event_type, chr(0) || 'null')
                       )), 1, 14))::BIGINT) AS VARCHAR) AS digest
                FROM newev GROUP BY 1
            )
            SELECT coalesce(o.part, n.part) AS part,
                   o.n_rows AS old_rows, n.n_rows AS new_rows,
                   CASE WHEN o.part IS NULL THEN 'added'
                        WHEN n.part IS NULL THEN 'removed'
                        WHEN o.digest = n.digest AND o.n_rows = n.n_rows
                             THEN 'unchanged'
                        ELSE 'changed' END AS status
            FROM od o FULL OUTER JOIN nd n ON o.part = n.part
        """,
        "m_embed_near_dup": _media_embed_near_dup_oracle(
            threshold=0.999, num_planes=4, dim=16
        ),
        "q_k_anonymity": """
            SELECT c_mktsegment, c_nationkey,
                   count(*) AS class_size,
                   count(*) >= 10 AS k_anonymous,
                   count(DISTINCT CASE WHEN c_acctbal < 0
                                       THEN 'neg' ELSE 'pos' END) >= 2
                       AS l_diverse
            FROM customer
            GROUP BY c_mktsegment, c_nationkey
        """,
        # full recompute: proves merge(state_old, state_new) == scratch
        "q_incremental_rollup": """
            SELECT event_type, count(*) AS cnt,
                   CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS total,
                   min(ts) AS min_ts, max(ts) AS max_ts
            FROM events GROUP BY event_type
        """,
        # replays bucketing.compact_plan's exclusive-prefix-sum binning
        "p_compact_plan": """
            WITH files AS (
                SELECT source AS dir,
                       'part-' || lpad(CAST(doc_id AS VARCHAR), 6, '0')
                           AS path,
                       n_chars * 7 + 100 AS bytes_
                FROM documents
            ), plan AS (
                SELECT dir, bytes_,
                       coalesce(sum(bytes_) OVER (
                           PARTITION BY dir ORDER BY path
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0) // 4000 AS bin
                FROM files
            )
            SELECT dir, CAST(bin AS BIGINT) AS bin,
                   count(*) AS n_files, sum(bytes_) AS total_bytes
            FROM plan GROUP BY dir, bin
        """,
        "w_url_normalize": _url_oracle_cte()
        + """
            SELECT doc_id, url, url_norm, host FROM normed
        """,
        "w_host_stats": _url_oracle_cte()
        + """
            SELECT host, count(*) AS n_docs,
                   count(DISTINCT url_norm) AS n_urls,
                   count(DISTINCT regexp_extract(url_norm,
                       '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1))
                       AS n_paths,
                   sum(length(text)) AS total_chars
            FROM normed GROUP BY host
        """,
        "w_url_dedup": _url_oracle_cte()
        + """
            SELECT doc_id, url_norm,
                   url_norm IS NULL OR
                   row_number() OVER (PARTITION BY url_norm
                                      ORDER BY doc_id) = 1 AS keep
            FROM normed
        """,
        "t_lm_train": f"""
            WITH ref AS (
                SELECT {_TOKENS_SQL} AS l FROM documents WHERE lang = 'en'
            )
            SELECT p[1] AS w1, p[2] AS w2, count(*) AS cnt
            FROM (SELECT unnest(list_zip(l[1:-2], l[2:-1])) AS p FROM ref)
            GROUP BY 1, 2
        """,
        "t_lm_score": f"""
            WITH ref AS (
                SELECT {_TOKENS_SQL} AS l FROM documents WHERE lang = 'en'
            ), uni AS (
                SELECT t AS token, count(*) AS cnt
                FROM (SELECT unnest(l) AS t FROM ref) GROUP BY 1
            ), bi AS (
                SELECT p[1] AS w1, p[2] AS w2, count(*) AS cnt
                FROM (SELECT unnest(list_zip(l[1:-2], l[2:-1])) AS p
                      FROM ref)
                GROUP BY 1, 2
            ), alldocs AS (
                SELECT doc_id, {_TOKENS_SQL} AS l FROM documents
            ), ex AS (
                SELECT doc_id, p[1] AS w, p[2] AS w_next
                FROM (SELECT doc_id,
                             unnest(list_zip(l,
                                 list_concat(l[2:-1], [NULL::VARCHAR]))) AS p
                      FROM alldocs)
            ), j AS (
                SELECT e.doc_id, e.w, e.w_next,
                       u.cnt AS cnt_u, b.cnt AS cnt_b
                FROM ex e
                LEFT JOIN uni u ON e.w = u.token
                LEFT JOIN bi b ON e.w = b.w1 AND e.w_next = b.w2
            )
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN cnt_u IS NULL THEN 1 ELSE 0 END)
                        AS DOUBLE) / count(*) AS oov_rate,
                   CASE WHEN sum(CASE WHEN w_next IS NOT NULL
                                      THEN 1 ELSE 0 END) > 0
                        THEN CAST(sum(CASE WHEN cnt_b IS NOT NULL
                                           THEN 1 ELSE 0 END) AS DOUBLE)
                             / sum(CASE WHEN w_next IS NOT NULL
                                        THEN 1 ELSE 0 END)
                   END AS bigram_hit_rate,
                   CASE WHEN count(cnt_u) > 0
                        THEN CAST(sum(CASE WHEN cnt_u IS NOT NULL
                                 THEN length(CAST(cnt_u AS VARCHAR))
                                 ELSE 0 END) AS DOUBLE) / count(cnt_u)
                   END AS avg_freq_digits,
                   min(cnt_u) AS min_unigram_cnt
            FROM j GROUP BY doc_id
        """,
        "t_bpe_merges": _bpe_merges_oracle(6),
        "t_unigram_train": _unigram_train_oracle(),
        "t_unigram_encode": _unigram_encode_oracle(
            vocab_size=40, seed_size=80),
        "t_bpe_encode": _bpe_encode_oracle(6),
        "t_bpe_fertility": _bpe_fertility_oracle(6),
        "d_simhash_near_dup": _simhash_near_dup_oracle(
            bits=32, bands=2, max_hamming=1, max_band_freq=1000
        ),
        "s_hybrid_search": _hybrid_oracle(
            n_queries=10, k_list=10, k_top=5, k_rrf=60
        ),
        "q_ts_pattern": _ts_pattern_oracle(_TS_PATTERN, k_top=10),
        "g_url_normalize": _url_oracle_cte(
            table="events", id_col="event_id", extra="event_type"
        )
        + """
            SELECT doc_id AS eid, url AS page_raw,
                   coalesce(url_norm, '') AS page
            FROM normed
        """,
        "q_json_key_census": """
            WITH t AS (SELECT count(*) AS n FROM events)
            SELECT 'k' AS key, count(*) AS n_events,
                   CAST(count(*) AS DOUBLE) / (SELECT n FROM t) AS frac
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
            UNION ALL
            SELECT 'beta', count(*),
                   CAST(count(*) AS DOUBLE) / (SELECT n FROM t)
            FROM events WHERE event_id % 3 = 0
            UNION ALL
            SELECT 'gamma', count(*),
                   CAST(count(*) AS DOUBLE) / (SELECT n FROM t)
            FROM events WHERE event_id % 5 = 0 AND value IS NOT NULL
        """,
        "t_collocations": f"""
            WITH ref AS (
                SELECT {_TOKENS_SQL} AS l FROM documents WHERE lang = 'en'
            ), uni AS (
                SELECT t AS token, count(*) AS cnt
                FROM (SELECT unnest(l) AS t FROM ref) GROUP BY 1
            ), bi AS (
                SELECT p[1] AS w1, p[2] AS w2, count(*) AS cnt
                FROM (SELECT unnest(list_zip(l[1:-2], l[2:-1])) AS p
                      FROM ref)
                GROUP BY 1, 2
            ), tot AS (SELECT sum(cnt) AS n FROM uni)
            SELECT bi.w1, bi.w2, bi.cnt AS n_ab,
                   ua.cnt AS n_a, ub.cnt AS n_b,
                   bi.cnt * (SELECT n FROM tot) AS lift_num,
                   ua.cnt * ub.cnt AS lift_den,
                   CAST(bi.cnt * (SELECT n FROM tot) AS DOUBLE)
                       / (ua.cnt * ub.cnt) AS lift
            FROM bi
            JOIN uni ua ON bi.w1 = ua.token
            JOIN uni ub ON bi.w2 = ub.token
            WHERE bi.cnt >= 20
        """,
        "t_bm25_search": f"""
            WITH toks AS (
                SELECT doc_id, t AS term
                FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS t
                      FROM documents)
                WHERE t <> ''
            ), dl AS (
                SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
            ), stats AS (
                SELECT count(*) AS n_docs, sum(dl) AS totlen FROM dl
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks GROUP BY doc_id, term
            ), dfr AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), q AS (
                SELECT * FROM (VALUES
                    (0, 'spark'), (0, 'table'),
                    (1, 'hash'), (1, 'merge'),
                    (2, 'window'), (2, 'sort'), (2, 'key')
                ) v(query_id, term)
            ), j AS (
                SELECT q.query_id, tf.doc_id,
                       CAST(floor(
                           CAST((2*s.n_docs - 2*dfr.df + 1) * 22
                                * tf.tf * s.totlen AS DOUBLE)
                           / CAST((2*dfr.df + 1)
                                  * (10*s.totlen*tf.tf + 3*s.totlen
                                     + 9*dl.dl*s.n_docs) AS DOUBLE)
                           * 1000000000.0) AS BIGINT) AS nanos
                FROM tf
                JOIN q USING (term)
                JOIN dfr USING (term)
                JOIN dl ON dl.doc_id = tf.doc_id
                CROSS JOIN stats s
            ), scored AS (
                SELECT query_id, doc_id, sum(nanos) AS score_nanos
                FROM j GROUP BY query_id, doc_id
            )
            SELECT query_id, rank, doc_id, score_nanos
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY score_nanos DESC, doc_id) AS rank
                  FROM scored)
            WHERE rank <= 5
        """,
        "p_mixture_plan": f"""
            WITH cs AS (
                SELECT source, sum(len({_TOKENS_SQL})) AS n_tokens
                FROM documents GROUP BY source
            ), w AS (
                SELECT source,
                       CAST(right(source, 1) AS BIGINT) + 1 AS weight_parts
                FROM cs
            ), j AS (
                SELECT cs.source, cs.n_tokens AS available_tokens,
                       w.weight_parts,
                       (SELECT sum(weight_parts) FROM w) AS ps
                FROM cs JOIN w USING (source)
            ), t AS (
                SELECT *, CAST((200000 * weight_parts) // ps
                               AS BIGINT) AS target_tokens
                FROM j
            ), p AS (
                SELECT *, least(target_tokens, available_tokens * 3)
                           AS planned_tokens
                FROM t
            )
            SELECT source, available_tokens, weight_parts, target_tokens,
                   planned_tokens,
                   CAST(planned_tokens AS DOUBLE) / available_tokens
                       AS epochs,
                   CAST(planned_tokens AS DOUBLE)
                       / (SELECT sum(planned_tokens) FROM p)
                       AS achieved_weight
            FROM p
        """,
        "p_web_pipeline": _url_oracle_cte()
        + f"""
            , ud AS (
                SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
                FROM (SELECT doc_id, url_norm,
                             row_number() OVER (PARTITION BY url_norm
                                                ORDER BY doc_id) AS ur
                      FROM normed) k
                JOIN documents d USING (doc_id)
                WHERE k.ur = 1 OR k.url_norm IS NULL
            ), uni AS (
                SELECT t AS token, count(*) AS cnt
                FROM (SELECT unnest({_TOKENS_SQL}) AS t
                      FROM ud WHERE lang = 'en')
                GROUP BY 1
            ), scored AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN u.cnt IS NULL THEN 1 ELSE 0 END)
                            AS DOUBLE) / count(*) AS oov_rate
                FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS w FROM ud) e
                LEFT JOIN uni u ON e.w = u.token
                GROUP BY doc_id
            ), lf AS (
                SELECT ud.* FROM ud LEFT JOIN scored USING (doc_id)
                WHERE (SELECT count(*) FROM uni) = 0
                   OR oov_rate IS NULL OR oov_rate <= 0.2
            ), sq AS (
                SELECT doc_id, source, n_chars
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ) AS qr FROM lf)
                WHERE qr <= 30
            )
            SELECT source, count(*) AS n_docs,
                   sum(n_chars) AS total_chars
            FROM sq GROUP BY source
        """,
        "s_cross_leakage": _cross_leakage_oracle(
            threshold=0.3, num_planes=4, dim=64, eval_max=100
        ),
        "s_mutual_knn": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            ), scored AS (
                SELECT a.vec_id AS src, b.vec_id AS dst,
                       round(list_dot_product(a.v, b.v)
                             / (sqrt(list_dot_product(a.v, a.v))
                                * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
                FROM e a JOIN e b ON a.vec_id <> b.vec_id
            ), topk AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY src ORDER BY cosine DESC, dst) AS r
                    FROM scored)
                WHERE r <= 5
            )
            SELECT least(src, dst) AS id_a, greatest(src, dst) AS id_b,
                   max(cosine) AS cosine
            FROM topk GROUP BY 1, 2 HAVING count(*) = 2
        """,
        "d_containment": f"""
            WITH sh AS (
                SELECT doc_id, unnest({shingle_list.replace('toks', _TOKENS_SQL)}) AS shingle
                FROM documents
            ), shf AS (
                SELECT doc_id, shingle FROM sh WHERE shingle <> ''
            ), sizes AS (
                SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
            ), capped AS (
                SELECT doc_id, shingle FROM (
                    SELECT doc_id, shingle,
                           count(*) OVER (PARTITION BY shingle) AS df
                    FROM shf)
                WHERE df <= 200
            ), inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM capped a JOIN capped b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b, n_common,
                   sa.n_sh AS n_a, sb.n_sh AS n_b
            FROM inter
            JOIN sizes sa ON doc_a = sa.doc_id
            JOIN sizes sb ON doc_b = sb.doc_id
            WHERE 100 * n_common >= 80 * least(sa.n_sh, sb.n_sh)
        """,
        "q_cube_revenue": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total,
                   count(*) AS n_rows,
                   GROUPING(l_returnflag, l_linestatus) AS grouping_level
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "p_curriculum": f"""
            WITH base AS (
                SELECT doc_id, CAST(len({_TOKENS_SQL}) AS BIGINT) AS n_tokens
                FROM documents
            ), b AS (
                SELECT doc_id, n_tokens,
                       least(CAST(10 AS BIGINT), 1 + n_tokens // 32) AS bucket
                FROM base
            ), stepped AS (
                SELECT doc_id, bucket,
                       CAST(row_number() OVER (
                           PARTITION BY bucket ORDER BY n_tokens, doc_id
                       ) AS BIGINT) AS step
                FROM b
            ), sizes AS (
                SELECT bucket, count(*) AS n FROM stepped GROUP BY 1
            )
            SELECT s.doc_id, s.bucket, s.step,
                   CAST(1 + sum(least(z.n, s.step - 1)
                       + CASE WHEN z.bucket < s.bucket AND z.n >= s.step
                              THEN 1 ELSE 0 END) AS BIGINT) AS position
            FROM stepped s CROSS JOIN sizes z
            GROUP BY s.doc_id, s.bucket, s.step
        """,
        "s_ivf_pq": _ivf_pq_oracle(
            n_cells=8, ivf_iters=2, nprobe=2,
            m=4, k_codes=16, pq_iters=2,
            dim=64, n_queries=10, k_top=5,
        ),
        "q_kcore": _kcore_oracle(k=4, rounds=12),
        "t_card_scrub": """
            WITH injected AS (
                SELECT doc_id,
                       text || CASE WHEN doc_id % 2 = 0
                           THEN ' card 4539 1488 0343 6467 on file'
                           ELSE ' card 1234 5678 1234 5678 on file'
                       END AS t
                FROM documents
            ), staged AS (
                SELECT doc_id, t,
                       regexp_extract_all(t, '[0-9][0-9 -]{11,22}[0-9]')
                           AS cands
                FROM injected
            ), cand_rows AS (
                SELECT s.doc_id, i.i AS i,
                       list_reverse(regexp_extract_all(s.cands[i.i],
                                                       '[0-9]')) AS d,
                       s.cands[i.i] AS c
                FROM staged s, LATERAL (SELECT unnest(generate_series(
                    1, len(s.cands))) AS i) i
            ), flagged AS (
                SELECT doc_id, i, c,
                       len(d) BETWEEN 13 AND 19 AND list_sum([
                           CASE WHEN (j % 2) = 1 THEN CAST(d[j] AS INT)
                                ELSE CASE WHEN CAST(d[j] AS INT) * 2 > 9
                                     THEN CAST(d[j] AS INT) * 2 - 9
                                     ELSE CAST(d[j] AS INT) * 2 END END
                           for j in generate_series(1, len(d))]) % 10 = 0
                           AS ok
                FROM cand_rows
            ), valids AS (
                SELECT doc_id,
                       list(c ORDER BY i) FILTER (ok) AS vlist
                FROM flagged GROUP BY doc_id
            )
            SELECT s.doc_id,
                   CAST(len(s.cands) AS INT) AS n_candidates,
                   CAST(coalesce(len(v.vlist), 0) AS INT) AS n_valid_cards,
                   md5(list_reduce(
                       list_prepend(s.t, coalesce(v.vlist, [])),
                       (acc, x) -> replace(acc, x, '<CARD>')
                   )) AS redacted_md5
            FROM staged s LEFT JOIN valids v USING (doc_id)
        """,
        "q_pivot_revenue": """
            SELECT o_orderpriority,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                        FILTER (o_orderstatus = 'O') AS DOUBLE) AS sum_O,
                   CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS n_O,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                        FILTER (o_orderstatus = 'F') AS DOUBLE) AS sum_F,
                   CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS n_F,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(38,6)))
                        FILTER (o_orderstatus = 'P') AS DOUBLE) AS sum_P,
                   CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS n_P
            FROM orders GROUP BY o_orderpriority
        """,
        "q_autocorr": """
            WITH daily AS (
                SELECT event_type AS k, CAST(ts AS DATE) AS day,
                       CAST(count(*) AS BIGINT) AS x
                FROM events GROUP BY 1, 2
            ), st AS (
                SELECT k, day, x,
                       CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS n,
                       CAST(sum(x) OVER (PARTITION BY k) AS BIGINT) AS s,
                       lag(x, 7) OVER (PARTITION BY k ORDER BY day) AS x_lag
                FROM daily
            ), c AS (
                SELECT k, n, n * x - s AS c, n * x_lag - s AS c_lag FROM st
            )
            SELECT k AS event_type,
                   CAST(max(n) AS BIGINT) AS n_days,
                   CAST(coalesce(sum(c * c_lag), 0) AS BIGINT) AS num,
                   CAST(sum(c * c) AS BIGINT) AS den,
                   CASE WHEN sum(c * c) > 0 THEN
                       CAST(coalesce(sum(c * c_lag), 0) AS BIGINT)::DOUBLE
                       / CAST(sum(c * c) AS BIGINT)
                   END AS acf_lag7
            FROM c GROUP BY k
        """,
        "t_readability": f"""
            WITH base AS (
                SELECT doc_id,
                       CAST(len({_TOKENS_SQL}) AS BIGINT) AS w,
                       CAST(greatest(
                           len({_TOKENS_SQL}),
                           len(regexp_extract_all(lower(text), '[aeiouy]+'))
                           - len(regexp_extract_all(lower(text),
                                                    '[^aeiouy\\s]e\\b'))
                       ) AS BIGINT) AS y,
                       CAST(greatest(1,
                           len(regexp_extract_all(lower(text), '[.!?]+'))
                       ) AS BIGINT) AS s
                FROM documents
            ), nums AS (
                SELECT doc_id, w, s, y,
                       390000 * w * w + 11800000 * y * s
                           - 15590000 * s * w AS gn,
                       206835000 * s * w - 1015000 * w * w
                           - 84600000 * y * s AS en,
                       s * w AS den
                FROM base
            )
            SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables,
                   CASE WHEN w > 0 THEN
                       (gn - (((gn % den) + den) % den)) // den
                   END AS grade_micro,
                   CASE WHEN w > 0 THEN
                       (en - (((en % den) + den) % den)) // den
                   END AS ease_micro
            FROM nums
        """,
        "s_mmr_select": _mmr_oracle(
            query_id=0, k=5, lam_num=7, lam_den=10,
        ),
        "s_ivf_pq_residual": _ivf_pq_residual_oracle(
            n_cells=8, ivf_iters=2, nprobe=2,
            m=4, k_codes=16, pq_iters=2,
            dim=64, n_queries=10, k_top=5,
        ),
        "d_remove_spans": """
            WITH grams AS (
                SELECT doc_id, i.i AS pos, md5(substr(text, i.i, 40)) AS g
                FROM documents,
                LATERAL (SELECT unnest(generate_series(
                    1, greatest(length(text) - 39, 0))) AS i) i
            ), m AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       a.pos AS pa, a.pos - b.pos AS diag
                FROM grams a JOIN grams b
                  ON a.g = b.g AND a.doc_id < b.doc_id
            ), runs AS (
                SELECT doc_a, doc_b, diag, pa,
                       CASE WHEN pa - lag(pa) OVER w = 1 THEN 0 ELSE 1 END AS brk
                FROM m
                WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pa)
            ), numbered AS (
                SELECT *, sum(brk) OVER (
                    PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS run_id
                FROM runs
            ), uspan AS (
                SELECT DISTINCT doc_id, start_pos, end_pos FROM (
                    SELECT doc_b AS doc_id,
                           min(pa) - diag AS start_pos,
                           max(pa) - diag + 39 AS end_pos
                    FROM numbered GROUP BY doc_a, doc_b, diag, run_id)
            ), marked AS (
                SELECT doc_id, start_pos, end_pos,
                       CASE WHEN start_pos > coalesce(max(end_pos) OVER (
                           PARTITION BY doc_id ORDER BY start_pos, end_pos
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)
                       THEN 1 ELSE 0 END AS grp_brk
                FROM uspan
            ), grouped AS (
                SELECT doc_id, start_pos, end_pos,
                       sum(grp_brk) OVER (
                           PARTITION BY doc_id
                           ORDER BY start_pos, end_pos) AS grp
                FROM marked
            ), mspan AS (
                SELECT doc_id, grp,
                       min(start_pos) AS start_pos, max(end_pos) AS end_pos
                FROM grouped GROUP BY doc_id, grp
            ), pieces AS (
                SELECT doc_id, start_pos, end_pos,
                       coalesce(lag(end_pos) OVER (
                           PARTITION BY doc_id ORDER BY start_pos), 0) + 1
                       AS piece_start
                FROM mspan
            ), perdoc AS (
                SELECT p.doc_id,
                       string_agg(
                           substr(d.text, p.piece_start,
                                  p.start_pos - p.piece_start),
                           '' ORDER BY p.start_pos) AS head,
                       max(p.end_pos) AS last_end,
                       count(*) AS n_spans_removed
                FROM pieces p JOIN documents d ON d.doc_id = p.doc_id
                GROUP BY p.doc_id
            ), cleaned AS (
                SELECT d.doc_id,
                       coalesce(pd.head, '')
                       || substr(d.text, coalesce(pd.last_end, 0) + 1,
                                 greatest(length(d.text)
                                          - coalesce(pd.last_end, 0), 0))
                       AS newtext,
                       coalesce(pd.n_spans_removed, 0) AS n_spans_removed
                FROM documents d LEFT JOIN perdoc pd USING (doc_id)
            )
            SELECT c.doc_id, md5(c.newtext) AS text_md5,
                   CAST(length(d.text) - length(c.newtext) AS BIGINT)
                       AS n_chars_removed,
                   CAST(c.n_spans_removed AS BIGINT) AS n_spans_removed
            FROM cleaned c JOIN documents d ON d.doc_id = c.doc_id
        """,
        "q_kmv_overlap": """
            WITH dh AS (
                SELECT DISTINCT event_type,
                       ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                           ::BIGINT AS h
                FROM events WHERE user_id IS NOT NULL
            ), sk AS (
                SELECT event_type, h FROM (
                    SELECT event_type, h, row_number() OVER (
                        PARTITION BY event_type ORDER BY h) AS r
                    FROM dh)
                WHERE r <= 256
            ), st AS (
                SELECT event_type,
                       count(*) AS n_ret,
                       max(CASE WHEN r = 256 THEN h END) AS h_k
                FROM (
                    SELECT event_type, h, row_number() OVER (
                        PARTITION BY event_type ORDER BY h) AS r
                    FROM dh)
                WHERE r <= 256 GROUP BY 1
            ), estv AS (
                SELECT event_type,
                       round(CASE WHEN h_k IS NULL THEN CAST(n_ret AS DOUBLE)
                             ELSE 255.0 * 4294967296.0 / h_k END, 4)
                           AS distinct_est,
                       coalesce(h_k, 4294967296) AS theta
                FROM st
            ), common AS (
                SELECT a.event_type AS ta, b.event_type AS tb,
                       least(ea.theta, eb.theta) AS theta,
                       count(*) AS n_common
                FROM sk a
                JOIN sk b ON a.h = b.h AND a.event_type < b.event_type
                JOIN estv ea ON ea.event_type = a.event_type
                JOIN estv eb ON eb.event_type = b.event_type
                WHERE a.h < least(ea.theta, eb.theta)
                GROUP BY 1, 2, 3
            )
            SELECT c.ta AS type_a, c.tb AS type_b,
                   ea.distinct_est AS est_a, eb.distinct_est AS est_b,
                   c.n_common,
                   round(CASE WHEN c.theta = 4294967296
                         THEN CAST(c.n_common AS DOUBLE)
                         ELSE c.n_common * 4294967296.0 / c.theta END, 4)
                       AS intersect_est
            FROM common c
            JOIN estv ea ON ea.event_type = c.ta
            JOIN estv eb ON eb.event_type = c.tb
        """,
        "p_epoch_shuffle": """
            WITH ep AS (SELECT unnest(generate_series(0, 2)) AS epoch),
            a AS (
                SELECT d.n_chars, ep.epoch,
                       ('0x' || substr(md5('epoch'
                            || CAST(ep.epoch AS VARCHAR) || '|'
                            || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                           AS h,
                       ('0x' || substr(md5('epoch0|'
                            || CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                           AS h0
                FROM documents d CROSS JOIN ep
            )
            SELECT epoch,
                   CAST(floor(h / 536870912) AS INT) AS batch,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN floor(h / 536870912)
                                    = floor(h0 / 536870912)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_stayers,
                   CAST(sum(n_chars) AS BIGINT) AS total_size
            FROM a GROUP BY 1, 2
        """,
        "s_knn_classify": """
            WITH e AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS v
                FROM embeddings
            ), q AS (SELECT * FROM e WHERE vec_id < 20),
            c AS (SELECT * FROM e WHERE vec_id >= 20),
            scored AS (
                SELECT q.vec_id AS query_id, q.label AS true_label,
                       c.label AS n_label, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.v, c.v)
                             / (sqrt(list_dot_product(q.v, q.v))
                                * sqrt(list_dot_product(c.v, c.v))), 6)
                           AS cosine
                FROM q CROSS JOIN c
            ), top AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
                    FROM scored)
                WHERE rank <= 10
            ), votes AS (
                SELECT query_id, true_label, n_label,
                       count(*) AS n_votes
                FROM top GROUP BY 1, 2, 3
            )
            SELECT query_id, true_label,
                   n_label AS pred_label, n_votes,
                   CAST(n_label = true_label AS INT) AS correct
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY n_votes DESC, n_label) AS vr
                FROM votes)
            WHERE vr = 1
        """,
        "s_matryoshka": """
            WITH e AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       (embedding::DOUBLE[])[1:16] AS vt
                FROM embeddings
            ), q AS (SELECT * FROM e WHERE vec_id < 10),
            fulltop AS (
                SELECT * FROM (
                    SELECT query_id, neighbor_id, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
                    FROM (
                        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                               round(list_dot_product(q.v, e.v)
                                     / (sqrt(list_dot_product(q.v, q.v))
                                        * sqrt(list_dot_product(e.v, e.v))),
                                     6) AS cosine
                        FROM q JOIN e ON q.vec_id <> e.vec_id))
                WHERE rank <= 10
            ), trunctop AS (
                SELECT * FROM (
                    SELECT query_id, neighbor_id, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
                    FROM (
                        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                               round(list_dot_product(q.vt, e.vt)
                                     / (sqrt(list_dot_product(q.vt, q.vt))
                                        * sqrt(list_dot_product(e.vt, e.vt))),
                                     6) AS cosine
                        FROM q JOIN e ON q.vec_id <> e.vec_id))
                WHERE rank <= 10
            ), ov AS (
                SELECT f.query_id, count(*) AS n_overlap
                FROM fulltop f JOIN trunctop t
                  ON f.query_id = t.query_id
                 AND f.neighbor_id = t.neighbor_id
                GROUP BY 1
            )
            SELECT q.vec_id AS query_id,
                   coalesce(ov.n_overlap, 0) AS n_overlap,
                   coalesce(ov.n_overlap, 0) / 10 AS recall
            FROM q LEFT JOIN ov ON ov.query_id = q.vec_id
        """,
        "t_rake_keywords": """
            WITH tk AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(
                           lower(text), '\\s+', ' ', 'g')), '\\s+') AS l
                FROM documents
            ), pos AS (
                SELECT doc_id, i.i AS pos, l[i.i] AS tok
                FROM tk, LATERAL (SELECT unnest(generate_series(
                    1, len(l))) AS i) i
            ), ns AS (
                SELECT doc_id, pos, tok,
                       pos - row_number() OVER (
                           PARTITION BY doc_id ORDER BY pos) AS grp
                FROM pos
                WHERE tok <> '' AND tok NOT IN
                      ('the','and','of','to','a','in','is','it','that','for')
            ), ph AS (
                SELECT doc_id, grp,
                       string_agg(tok, ' ' ORDER BY pos) AS phrase,
                       count(*) AS n_words
                FROM ns GROUP BY 1, 2
            ), cand AS (
                SELECT phrase, n_words, count(*) AS n_occ
                FROM ph WHERE n_words <= 6 GROUP BY 1, 2
            ), wx AS (
                SELECT phrase, n_words, n_occ,
                       unnest(string_split(phrase, ' ')) AS w
                FROM cand
            ), ws AS (
                SELECT w,
                       (CAST(sum(n_occ * n_words) AS BIGINT) * 1000000)
                           // CAST(sum(n_occ) AS BIGINT) AS wscore
                FROM wx GROUP BY 1
            ), sc AS (
                SELECT wx.phrase, wx.n_words, wx.n_occ,
                       CAST(sum(ws.wscore) AS BIGINT) AS score_fx
                FROM wx JOIN ws ON ws.w = wx.w
                GROUP BY 1, 2, 3
            )
            SELECT phrase, n_words, n_occ, score_fx, CAST(rank AS INT) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    ORDER BY score_fx DESC, phrase) AS rank
                FROM sc)
            WHERE rank <= 20
        """,
        "q_assoc_rules": """
            WITH di AS (
                SELECT DISTINCT l.l_orderkey AS bk, p.p_brand AS item
                FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            ), nb AS (
                SELECT count(DISTINCT bk) AS n_baskets FROM di
            ), ic AS (
                SELECT item, count(*) AS n_item FROM di GROUP BY 1
            ), pc AS (
                SELECT a.item AS item_a, b.item AS item_b,
                       count(*) AS n_both
                FROM di a JOIN di b
                  ON a.bk = b.bk AND a.item < b.item
                GROUP BY 1, 2
                HAVING count(*) >= 50
            ), j AS (
                SELECT pc.item_a, pc.item_b, pc.n_both,
                       ca.n_item AS n_a, cb.n_item AS n_b, nb.n_baskets
                FROM pc
                JOIN ic ca ON pc.item_a = ca.item
                JOIN ic cb ON pc.item_b = cb.item
                CROSS JOIN nb
            ), r AS (
                SELECT item_a AS antecedent, item_b AS consequent,
                       n_both, n_a AS n_ant, n_b AS n_cons, n_baskets
                FROM j
                UNION ALL
                SELECT item_b, item_a, n_both, n_b, n_a, n_baskets
                FROM j
            )
            SELECT antecedent, consequent, n_both, n_ant, n_cons,
                   n_baskets,
                   round(CAST(n_both AS DOUBLE) / n_ant, 6) AS confidence,
                   n_both * n_baskets AS lift_num,
                   n_ant * n_cons AS lift_den,
                   -- double-cast FACTORS (not the long product), in
                   -- lockstep with the operator's wrap-proof form
                   round((CAST(n_both AS DOUBLE) * n_baskets)
                         / (CAST(n_ant AS DOUBLE) * n_cons), 6) AS lift
            FROM r
        """,
        "s_label_noise": """
            WITH e AS (
                SELECT vec_id, label, embedding::DOUBLE[] AS v
                FROM embeddings
            ), q AS (SELECT * FROM e WHERE vec_id < 100),
            scored AS (
                SELECT q.vec_id AS query_id, q.label AS own_label,
                       c.label AS n_label, c.vec_id AS neighbor_id,
                       round(list_dot_product(q.v, c.v)
                             / (sqrt(list_dot_product(q.v, q.v))
                                * sqrt(list_dot_product(c.v, c.v))), 6)
                           AS cosine
                FROM q CROSS JOIN e c
                WHERE c.vec_id <> q.vec_id
            ), top AS (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
                    FROM scored)
                WHERE rank <= 10
            ), votes AS (
                SELECT query_id, own_label, n_label,
                       count(*) AS n_votes
                FROM top GROUP BY 1, 2, 3
            ), pred AS (
                SELECT query_id, own_label,
                       n_label AS pred_label, n_votes AS n_votes_pred
                FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY n_votes DESC, n_label) AS vr
                    FROM votes)
                WHERE vr = 1
            ), own AS (
                SELECT query_id, n_votes AS n_votes_own
                FROM votes WHERE n_label = own_label
            )
            SELECT p.query_id AS vec_id, p.own_label AS label,
                   p.pred_label, p.n_votes_pred,
                   coalesce(o.n_votes_own, 0) AS n_votes_own,
                   CAST(p.pred_label <> p.own_label AS INT) AS suspect
            FROM pred p LEFT JOIN own o ON p.query_id = o.query_id
        """,
        "q_zone_map_prune": """
            WITH z AS (
                SELECT 'ingest' AS layout,
                       'ingest/' || CAST(l_orderkey // 2048 AS VARCHAR)
                           AS file_id,
                       count(*) AS n_rows,
                       min(l_shipdate) AS min_l_shipdate,
                       max(l_shipdate) AS max_l_shipdate,
                       count(*) FILTER (WHERE l_shipdate IS NULL)
                           AS nulls_l_shipdate
                FROM lineitem GROUP BY 2
                UNION ALL
                SELECT 'month',
                       'month/' || strftime(l_shipdate, '%Y-%m'),
                       count(*),
                       min(l_shipdate), max(l_shipdate),
                       count(*) FILTER (WHERE l_shipdate IS NULL)
                FROM lineitem GROUP BY 2
            )
            SELECT layout, file_id, n_rows,
                   min_l_shipdate, max_l_shipdate, nulls_l_shipdate,
                   CAST(min_l_shipdate IS NOT NULL
                        AND max_l_shipdate >=
                            TIMESTAMP '1995-06-01 00:00:00'
                        AND min_l_shipdate <=
                            TIMESTAMP '1995-08-31 23:59:59'
                        AS INT) AS scan_needed
            FROM z
        """,
        "t_textrank": _textrank_oracle(),
        "s_rp_recall": _rp_recall_oracle(),
        "q_holt_forecast": _holt_oracle(),
        "s_coreset": _coreset_oracle(),
        "q_geohash_cells": _geohash_cells_oracle(),
        "q_geo_nearest": """
            WITH pts AS (
                SELECT event_id,
                       ('0x' || substr(md5('lat|' ||
                            CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                           % 120000001 - 60000000 AS lat,
                       ('0x' || substr(md5('lon|' ||
                            CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
                           % 360000001 - 180000000 AS lon
                FROM events
            ), st AS (
                SELECT n_nationkey AS site_id,
                       ('0x' || substr(md5('slat|' ||
                            CAST(n_nationkey AS VARCHAR)), 1, 8))::BIGINT
                           % 120000001 - 60000000 AS site_lat,
                       ('0x' || substr(md5('slon|' ||
                            CAST(n_nationkey AS VARCHAR)), 1, 8))::BIGINT
                           % 360000001 - 180000000 AS site_lon
                FROM nation
            ), pairs AS (
                -- brute force: the oracle deliberately checks ALL
                -- point x site pairs so a hash match proves the
                -- operator's grid neighborhood misses nothing
                SELECT p.event_id, p.lat, p.lon,
                       s.site_id, s.site_lat, s.site_lon,
                       (p.lat - s.site_lat) * (p.lat - s.site_lat)
                       + (p.lon - s.site_lon) * (p.lon - s.site_lon)
                           AS d2_micro
                FROM pts p CROSS JOIN st s
                WHERE (p.lat - s.site_lat) * (p.lat - s.site_lat)
                      + (p.lon - s.site_lon) * (p.lon - s.site_lon)
                      <= 5000000 * CAST(5000000 AS BIGINT)
            )
            SELECT event_id, lat, lon, site_id, site_lat, site_lon,
                   d2_micro
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY event_id
                    ORDER BY d2_micro, site_id) AS rn
                FROM pairs)
            WHERE rn = 1
        """,
        "q_late_arrival": """
            WITH ev AS (
                SELECT event_id // 1000 AS b,
                       epoch_us(ts) AS ts_us
                FROM events
            ), pb AS (
                SELECT b, max(ts_us) AS bmax FROM ev GROUP BY 1
            ), prev AS (
                SELECT b, max(bmax) OVER (
                    ORDER BY b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) AS prev_max
                FROM pb
            ), lat AS (
                SELECT greatest(coalesce(prev_max - ts_us, 0), 0) AS l
                FROM ev JOIN prev USING (b)
            )
            SELECT CASE
                     WHEN l <= 0 THEN 'on_time'
                     WHEN l < 60000000 THEN 'lt_1m'
                     WHEN l < 600000000 THEN 'lt_10m'
                     WHEN l < 3600000000 THEN 'lt_1h'
                     WHEN l < 86400000000 THEN 'lt_1d'
                     ELSE 'ge_1d'
                   END AS lateness_bucket,
                   count(*) AS n_events,
                   CAST(max(l) AS BIGINT) AS max_lateness_us
            FROM lat GROUP BY 1
        """,
        "d_novelty": f"""
            WITH tk AS (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(
                           lower(text), '\\s+', ' ', 'g')), '\\s+') AS toks
                FROM documents
            ), sh AS (
                SELECT DISTINCT doc_id, shingle FROM (
                    SELECT doc_id, unnest({shingle_list}) AS shingle
                    FROM tk)
                WHERE shingle <> ''
            ), freq AS (
                SELECT shingle, count(*) AS df FROM sh GROUP BY 1
            )
            SELECT s.doc_id,
                   count(*) AS n_shingles,
                   CAST(sum(CAST(f.df = 1 AS BIGINT)) AS BIGINT)
                       AS n_novel,
                   round(CAST(sum(CAST(f.df = 1 AS BIGINT)) AS DOUBLE)
                         / count(*), 6) AS novelty
            FROM sh s JOIN freq f USING (shingle)
            GROUP BY 1
        """,
    }
    return {
        name: _force_bigint(sql, _HUGEINT_COLS[name])
        if name in _HUGEINT_COLS else sql
        for name, sql in sqls.items()
    }


# DuckDB returns HUGEINT for any un-cast integer sum()/product() (plain or
# windowed).  The driver's correctness gate converts oracle results through
# pandas, which renders HUGEINT as float64 — so Spark's BIGINT `450` hashes
# against the oracle's `450.0` and fails even though the values are equal
# (round-2 verdict: exactly the 5 recorded-slot failures, 31 oracles total).
# _force_bigint pins every such column back to BIGINT at the outermost
# projection with DuckDB's `SELECT * REPLACE (...)`, preserving column names
# and order.  tests/test_entry_contract.py asserts no oracle output column is
# HUGEINT so new queries cannot reintroduce the landmine.
_HUGEINT_COLS: dict[str, list[str]] = {
    "q_sessionize": ["session_seq"],
    "q_session_sequences": ["session_seq"],
    "q_hist_quantiles": ["n_values"],
    "q_join_size_estimate": ["join_size_est"],
    "q_funnel": ["n_step0", "n_step1", "n_step2"],
    "q_late_priority": ["high_line_count", "low_line_count"],
    "d_dup_rate_by_source": ["n_dup_docs"],
    "d_substring_spans": ["total_shared"],
    "t_token_stats": ["total_tokens", "total_subwords"],
    "t_bloom_decontaminate": ["n_contaminated_shingles"],
    "t_bpe_merges": ["pair_freq"],
    "t_bpe_encode": ["n_subwords"],
    "t_bpe_fertility": ["n_subwords"],
    "t_collocations": ["lift_num"],
    "t_bm25_search": ["score_nanos"],
    "w_host_stats": ["total_chars"],
    "p_rag_pipeline": ["total_tokens"],
    "p_corpus_pipeline": ["total_tokens"],
    "p_training_prep": ["total_tokens"],
    "p_pack_sequences": ["total_tokens"],
    "p_shard_manifest": ["total_bytes"],
    "p_kfold": ["total_tokens"],
    "p_reconcile_files": ["total_bytes"],
    "p_datasheet_diff": ["tokens_delta"],
    "p_importance_sample": ["kept_chars"],
    "p_training_export": ["n_docs", "total_tokens"],
    "p_corpus_datasheet": ["n_tokens", "n_chars"],
    "p_spec_pipeline": ["total_tokens"],
    "p_compact_plan": ["total_bytes"],
    "p_mixture_plan": ["available_tokens", "planned_tokens"],
    "p_web_pipeline": ["total_chars"],
}


def _force_bigint(sql: str, cols: list[str]) -> str:
    replace = ", ".join(f"CAST({c} AS BIGINT) AS {c}" for c in cols)
    return f"SELECT * REPLACE ({replace}) FROM (\n{sql}\n) __bigint_fix"


def _url_oracle_cte(
    table: str = "documents", id_col: str = "doc_id", extra: str = "text"
) -> str:
    """Replays _synth_url + operators/web.py normalize_url/url_host in
    DuckDB: same md5-derived messy URL, same RFC 3986 component parse
    and normalization rules (lower scheme/host, default-port strip,
    fragment drop, tracking-param filter + sort, trailing-slash
    collapse)."""
    return rf"""
        WITH docs_u AS (
            SELECT {id_col} AS doc_id, {extra}, md5(CAST({id_col} AS VARCHAR)) AS h
            FROM {table}
        ), raw AS (
            SELECT doc_id, {extra},
                CASE WHEN substr(h,1,1) < '8' THEN 'https'
                     ELSE 'HTTP' END ||
                '://WWW.h' || substr(h,3,2) || '.Example.com' ||
                CASE WHEN substr(h,2,1) < '4' THEN
                        (CASE WHEN substr(h,1,1) < '8' THEN ':443'
                              ELSE ':80' END)
                     WHEN substr(h,2,1) < '6' THEN ':8080'
                     ELSE '' END ||
                '/p/' || substr(h,5,3) ||
                CASE WHEN substr(h,8,1) < '8' THEN '/' ELSE '' END ||
                CASE WHEN substr(h,9,1) < '4' THEN ''
                     WHEN substr(h,9,1) < '8' THEN
                        '?id=' || substr(h,10,2) || '&utm_source=feed'
                     WHEN substr(h,9,1) < 'c' THEN
                        '?utm_source=feed&id=' || substr(h,10,2)
                     ELSE '?b=2&a=1&utm_campaign=x' END ||
                CASE WHEN substr(h,12,1) < '8' THEN
                        '#sec' || substr(h,13,1)
                     ELSE '' END AS url
            FROM docs_u
        ), parsed AS (
            SELECT doc_id, {extra}, url,
                lower(regexp_extract(url,
                    '^([A-Za-z][A-Za-z0-9+.\-]*)://', 1)) AS scheme,
                regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)', 1) AS auth,
                regexp_extract(url,
                    '^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)', 1)
                    AS raw_path,
                regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS rawq
            FROM raw
        ), comp AS (
            SELECT doc_id, {extra}, url, scheme,
                lower(regexp_extract(auth,
                    '^(?:[^@]*@)?(\[[^\]]*\]|[^:]*)', 1)) AS host,
                regexp_extract(auth, ':(\d+)$', 1) AS port,
                CASE WHEN regexp_replace(raw_path, '/+$', '') = ''
                     THEN '/'
                     ELSE regexp_replace(raw_path, '/+$', '') END AS path,
                coalesce(list_aggregate(list_sort(list_filter(
                    string_split(rawq, '&'),
                    x -> x <> ''
                         AND NOT regexp_extract(x, '^([^=]*)', 1)
                             IN ('fbclid','gclid','msclkid')
                         AND NOT starts_with(
                             regexp_extract(x, '^([^=]*)', 1), 'utm_'))),
                    'string_agg', '&'), '') AS qq
            FROM parsed
        ), normed AS (
            SELECT doc_id, {extra}, url, host,
                scheme || '://' || host ||
                CASE WHEN port = '' OR (scheme='http' AND port='80')
                          OR (scheme='https' AND port='443') THEN ''
                     ELSE ':' || port END || path ||
                CASE WHEN qq = '' THEN '' ELSE '?' || qq END AS url_norm
            FROM comp
        )
    """


def _bpe_fold_sql(a: str, b: str) -> str:
    """DuckDB list_reduce replay of operators/tokenizer.py merge_fold:
    greedy left-to-right merge of pair (a, b) over the space-joined
    symbol string `sym`, state packed as output||chr(1)||pending.
    Produces the raw folded accumulator (unpacked by _BPE_UNPACK)."""
    sp1 = "split_part(acc, chr(1), 1)"
    sp2 = "split_part(acc, chr(1), 2)"
    arr = "string_split(sym, ' ')"
    lam = (
        f"(acc, x) -> CASE WHEN {sp2} = {a} AND x = {b} "
        f"THEN (CASE WHEN {sp1} = '' THEN '' ELSE {sp1} || ' ' END) "
        f"|| {a} || {b} || chr(1) "
        f"ELSE (CASE WHEN {sp2} = '' THEN {sp1} "
        f"WHEN {sp1} = '' THEN {sp2} "
        f"ELSE {sp1} || ' ' || {sp2} END) || chr(1) || x END"
    )
    return (
        f"list_reduce(list_concat([chr(1) || list_extract({arr}, 1)], "
        f"list_slice({arr}, 2, len({arr}))), {lam})"
    )


_BPE_UNPACK = (
    "CASE WHEN split_part(acc, chr(1), 2) = '' "
    "THEN split_part(acc, chr(1), 1) "
    "WHEN split_part(acc, chr(1), 1) = '' "
    "THEN split_part(acc, chr(1), 2) "
    "ELSE split_part(acc, chr(1), 1) || ' ' || split_part(acc, chr(1), 2) "
    "END"
)

_BPE_PAIRS = (
    "SELECT p[1] AS a, p[2] AS b, sum(freq) AS cnt "
    "FROM (SELECT freq, unnest(list_zip(arr[1:-2], arr[2:-1])) AS p "
    "      FROM (SELECT freq, string_split(sym, ' ') AS arr FROM {src})) "
    "GROUP BY 1, 2"
)


def _bpe_oracle_ctes(num_merges: int) -> str:
    """CTE chain replaying train_bpe round by round: pair counts ->
    deterministic argmax -> list_reduce greedy merge, each round's
    best pair LEFT JOIN'ed (ON TRUE) into the next merge so an
    exhausted pair table degrades to a no-op merge, mirroring the
    Spark loop's early break."""
    parts = [
        "WITH wf AS ("
        f"  SELECT t AS word, count(*) AS freq"
        f"  FROM (SELECT unnest({_TOKENS_SQL}) AS t FROM documents"
        "        WHERE lang = 'en')"
        "  WHERE t <> '' AND strpos(t, chr(1)) = 0 GROUP BY 1"
        "), syms0 AS ("
        "  SELECT word, freq,"
        "         regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS sym"
        "  FROM wf"
        ")"
    ]
    for r in range(num_merges):
        parts.append(
            f", pairs{r} AS ({_BPE_PAIRS.format(src=f'syms{r}')})"
            f", best{r} AS (SELECT a, b, cnt FROM pairs{r}"
            f"              ORDER BY cnt DESC, a, b LIMIT 1)"
            f", red{r} AS (SELECT word, freq,"
            f"    {_bpe_fold_sql(f'best{r}.a', f'best{r}.b')} AS acc"
            f"    FROM syms{r} LEFT JOIN best{r} ON TRUE)"
            f", syms{r + 1} AS (SELECT word, freq, {_BPE_UNPACK} AS sym"
            f"    FROM red{r})"
        )
    return "".join(parts)


def _unigram_ctes(
    vocab_size: int = 60,
    rounds: int = 2,
    max_piece_len: int = 4,
    seed_size: int = 200,
    max_word_len: int = 64,
) -> str:
    """Shared exact replay of train_unigram (integer BL costs via
    length(to_base(x, 2)); the Viterbi argmin as an exhaustive
    recursive-CTE enumeration with the identical (cost, n_pieces,
    seq) ordering — equal by definition of argmin, tractable because
    natural-language words are short), ending at CTE `fin`
    (the pruned final vocabulary with counts)."""
    parts = [f"""
        WITH RECURSIVE wf AS MATERIALIZED (
            SELECT word, count(*) AS freq FROM (
                SELECT t AS word
                FROM (SELECT unnest({_TOKENS_SQL}) AS t
                      FROM documents WHERE lang = 'en')
                WHERE t <> '' AND strpos(t, chr(1)) = 0
            ) WHERE length(word) <= {max_word_len}
            GROUP BY word
        ), subs AS MATERIALIZED (
            SELECT piece, sum(freq) AS cnt FROM (
                SELECT freq,
                       unnest(flatten([[word[i : i + l - 1]
                           for l in generate_series(1,
                               least({max_piece_len},
                                     length(word) - i + 1))]
                           for i in generate_series(1, length(word))]))
                           AS piece
                FROM wf)
            GROUP BY piece
        ), multi AS MATERIALIZED (
            SELECT piece, cnt FROM (
                SELECT piece, cnt, row_number() OVER (
                    ORDER BY cnt DESC, piece ASC) AS rn
                FROM subs WHERE length(piece) > 1)
            WHERE rn <= {seed_size}
        ), v0 AS MATERIALIZED (
            SELECT piece, cnt FROM subs WHERE length(piece) = 1
            UNION ALL SELECT piece, cnt FROM multi
        ), cost0 AS MATERIALIZED (
            SELECT piece, cnt,
                   (SELECT length(to_base(CAST(sum(cnt) AS BIGINT), 2)) FROM v0)
                 - length(to_base(CAST(greatest(cnt, 1) AS BIGINT), 2)) AS cost
            FROM v0
        )"""]
    for r in range(1, rounds + 1):
        parts.append(f""", dp{r} AS (
            SELECT word, freq, 0 AS pos, 0 AS cost, 0 AS np,
                   '' AS seq
            FROM wf
            UNION ALL
            SELECT d.word, d.freq, d.pos + length(p.piece),
                   d.cost + p.cost, d.np + 1,
                   CASE WHEN d.seq = '' THEN p.piece
                        ELSE d.seq || ' ' || p.piece END
            FROM dp{r} d
            CROSS JOIN generate_series(1, {max_piece_len}) gs(l)
            JOIN cost{r - 1} p
              ON length(p.piece) = gs.l
             AND p.piece = substr(d.word, d.pos + 1, gs.l)
            WHERE d.pos < length(d.word)
        ), seg{r} AS MATERIALIZED (
            SELECT word, freq, seq FROM (
                SELECT word, freq, seq, row_number() OVER (
                    PARTITION BY word
                    ORDER BY cost, np, seq) AS rn
                FROM dp{r} WHERE pos = length(word))
            WHERE rn = 1
        ), v{r} AS MATERIALIZED (
            SELECT v.piece, coalesce(c.cnt, 0) AS cnt
            FROM (SELECT piece FROM v0) v
            LEFT JOIN (
                SELECT piece, sum(freq) AS cnt FROM (
                    SELECT freq, unnest(string_split(seq, ' ')) AS piece
                    FROM seg{r})
                GROUP BY piece) c USING (piece)
        ), cost{r} AS MATERIALIZED (
            SELECT piece, cnt,
                   (SELECT length(to_base(CAST(sum(cnt) AS BIGINT), 2)) FROM v{r})
                 - length(to_base(CAST(greatest(cnt, 1) AS BIGINT), 2)) AS cost
            FROM v{r}
        )""")
    parts.append(f""", keepm AS MATERIALIZED (
            SELECT piece, cnt FROM (
                SELECT piece, cnt, row_number() OVER (
                    ORDER BY cnt DESC, piece ASC) AS rn
                FROM v{rounds} WHERE length(piece) > 1)
            WHERE rn <= greatest({vocab_size} - (
                SELECT count(*) FROM v{rounds}
                WHERE length(piece) = 1), 0)
        ), fin AS MATERIALIZED (
            SELECT piece, cnt FROM v{rounds} WHERE length(piece) = 1
            UNION ALL SELECT piece, cnt FROM keepm
        )""")
    return "".join(parts)


def _unigram_train_oracle(**kw) -> str:
    return _unigram_ctes(**kw) + """
        SELECT piece, CAST(cnt AS BIGINT) AS cnt,
               CAST((SELECT length(to_base(CAST(sum(cnt) AS BIGINT), 2)) FROM fin)
                  - length(to_base(CAST(greatest(cnt, 1) AS BIGINT), 2)) AS INTEGER)
                   AS cost
        FROM fin"""


def _unigram_encode_oracle(**kw) -> str:
    """Replays unigram_apply over the whole corpus: final costs from
    `fin`, single characters outside the vocabulary at max cost + 1,
    the same exhaustive Viterbi argmin, then per-doc token/piece
    counts via a distinct-word encode joined back (never re-segment
    per occurrence — same shape as the Spark side). Both this and the
    training dp joins are written as EQUI-joins on
    (length(piece), substr(word, pos+1, l)) over an enumerated piece
    length — the natural `word[pos+1 : pos+length(piece)] = piece`
    form cannot hash-join (the key depends on both sides), so DuckDB
    nested-loops every partial path against the whole piece table,
    which made this oracle ~84s of every sweep."""
    max_piece_len = kw.get("max_piece_len", 4)
    return _unigram_ctes(**kw) + f""", fincost AS MATERIALIZED (
            SELECT piece,
                   (SELECT length(to_base(CAST(sum(cnt) AS BIGINT), 2))
                    FROM fin)
                 - length(to_base(CAST(greatest(cnt, 1) AS BIGINT), 2))
                   AS cost
            FROM fin
        ), ex AS MATERIALIZED (
            SELECT doc_id, t AS word
            FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS t
                  FROM documents)
            WHERE t <> '' AND strpos(t, chr(1)) = 0
        ), allw AS MATERIALIZED (
            SELECT DISTINCT word FROM ex
        ), achars AS MATERIALIZED (
            SELECT DISTINCT piece FROM (
                SELECT unnest([word[i : i]
                    for i in generate_series(1, length(word))]) AS piece
                FROM allw)
        ), pieces AS MATERIALIZED (
            SELECT piece, cost FROM fincost
            UNION ALL
            SELECT piece, (SELECT max(cost) + 1 FROM fincost) AS cost
            FROM achars
            WHERE piece NOT IN (SELECT piece FROM fincost)
        ), dpe AS (
            SELECT word, 0 AS pos, 0 AS cost, 0 AS np, '' AS seq
            FROM allw
            UNION ALL
            SELECT d.word, d.pos + length(p.piece), d.cost + p.cost,
                   d.np + 1,
                   CASE WHEN d.seq = '' THEN p.piece
                        ELSE d.seq || ' ' || p.piece END
            FROM dpe d
            CROSS JOIN generate_series(1, {max_piece_len}) gs(l)
            JOIN pieces p
              ON length(p.piece) = gs.l
             AND p.piece = substr(d.word, d.pos + 1, gs.l)
            WHERE d.pos < length(d.word)
        ), enc AS MATERIALIZED (
            SELECT word, np AS n_pieces FROM (
                SELECT word, np, row_number() OVER (
                    PARTITION BY word
                    ORDER BY cost, np, seq) AS rn
                FROM dpe WHERE pos = length(word))
            WHERE rn = 1
        )
        SELECT doc_id, count(*) AS n_tokens,
               CAST(sum(n_pieces) AS BIGINT) AS n_pieces
        FROM ex JOIN enc USING (word) GROUP BY doc_id"""


def _bpe_merges_oracle(num_merges: int) -> str:
    selects = [
        f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym,"
        f" a || b AS merged, cnt AS pair_freq FROM best{r}"
        for r in range(num_merges)
    ]
    return _bpe_oracle_ctes(num_merges) + " ".join(
        ["\n"] + [" UNION ALL ".join(selects)]
    )


def _bpe_encode_ctes(num_merges: int) -> str:
    """Shared apply-chain CTEs: the training chain plus `ex` (per-doc
    token stream with lang) and `enc` (distinct vocabulary encoded by
    every learned merge, in order)."""
    parts = [
        _bpe_oracle_ctes(num_merges),
        ", ex AS ("
        f"  SELECT doc_id, lang, t AS word"
        f"  FROM (SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS t"
        "        FROM documents)"
        "  WHERE t <> '' AND strpos(t, chr(1)) = 0"
        "), asyms0 AS ("
        "  SELECT word,"
        "         regexp_replace(word, '(.)', '\\1 ', 'g') || '</w>' AS sym"
        "  FROM (SELECT DISTINCT word FROM ex)"
        ")",
    ]
    for r in range(num_merges):
        parts.append(
            f", ared{r} AS (SELECT word,"
            f"    {_bpe_fold_sql(f'best{r}.a', f'best{r}.b')} AS acc"
            f"    FROM asyms{r} LEFT JOIN best{r} ON TRUE)"
            f", asyms{r + 1} AS (SELECT word, {_BPE_UNPACK} AS sym"
            f"    FROM ared{r})"
        )
    parts.append(
        f", enc AS (SELECT word, len(string_split(sym, ' ')) AS n_sub"
        f"          FROM asyms{num_merges})"
    )
    return "".join(parts)


def _bpe_encode_oracle(num_merges: int) -> str:
    return _bpe_encode_ctes(num_merges) + (
        " SELECT doc_id, count(*) AS n_tokens,"
        " sum(n_sub) AS n_subwords"
        " FROM ex JOIN enc USING (word) GROUP BY doc_id"
    )


def _bpe_fertility_oracle(num_merges: int) -> str:
    return _bpe_encode_ctes(num_merges) + (
        " SELECT lang, sum(n_sub) AS n_subwords,"
        " count(*) AS n_tokens,"
        " CAST(sum(n_sub) AS DOUBLE) / count(*) AS fertility"
        " FROM ex JOIN enc USING (word) GROUP BY lang"
    )


def _ts_pattern_oracle(pattern: list[float], k_top: int) -> str:
    """Replays ts_pattern_topk: ordered per-user series, window
    explode via list comprehension, the identical sequential float
    chain (list_dot_product == the Spark ordered fold — the cosine
    precedent), round(6), per-key prune then global rank."""
    m = len(pattern)
    pm = sum(pattern) / m
    psd = (sum((x - pm) ** 2 for x in pattern) / m) ** 0.5
    pz = ", ".join(repr((x - pm) / psd) for x in pattern)
    ones = ", ".join(["1.0"] * m)
    return f"""
        WITH ordered AS (
            SELECT user_id AS key,
                   list(CAST(value AS DOUBLE) ORDER BY ts, event_id)
                       AS vs
            FROM events GROUP BY user_id
        ), wins AS (
            SELECT key, w.start AS start, w.w AS w
            FROM (SELECT key,
                         unnest([struct_pack(start := i,
                                  w := list_slice(vs, i, i + {m} - 1))
                                 for i in generate_series(1,
                                     greatest(len(vs) - {m} + 1, 0))])
                             AS w
                  FROM ordered)
        ), staged AS (
            SELECT key, start, w,
                   list_dot_product(w, [{ones}]) / {m} AS mean
            FROM wins
        ), cent AS (
            SELECT key, start,
                   [x - mean for x in w] AS c
            FROM staged
        ), sdd AS (
            SELECT key, start, c,
                   sqrt(list_dot_product(c, c) / {m}) AS sd
            FROM cent
        ), dist AS (
            SELECT key, start,
                   round(list_dot_product(d, d), 6) AS dist2
            FROM (SELECT key, start,
                         [p[1] / sd - p[2]
                          for p in list_zip(c, [{pz}])] AS d
                  FROM sdd WHERE sd > 0)
        ), pruned AS (
            SELECT key, start, dist2 FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY key ORDER BY dist2, start) AS kr
                FROM dist)
            WHERE kr <= {k_top}
        )
        SELECT rank, key, start, dist2 FROM (
            SELECT *, row_number() OVER (
                ORDER BY dist2, key, start) AS rank
            FROM pruned)
        WHERE rank <= {k_top}
    """


def _hybrid_oracle(
    n_queries: int, k_list: int, k_top: int, k_rrf: int
) -> str:
    """Replays hybrid_search: the BM25 ranker (rank assigned over ALL
    docs, self filtered after — matching the Spark composition), the
    exact-cosine ranker (self excluded before ranking, as in
    cosine_topk), and integer-nano RRF fusion."""
    return f"""
        WITH toks AS (
            SELECT doc_id, t AS term
            FROM (SELECT doc_id, unnest({_TOKENS_SQL}) AS t
                  FROM documents)
            WHERE t <> ''
        ), dl AS (
            SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
        ), stats AS (
            SELECT count(*) AS n_docs, sum(dl) AS totlen FROM dl
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks GROUP BY doc_id, term
        ), q AS (
            SELECT DISTINCT CAST(doc_id AS INT) AS query_id, t AS term
            FROM (SELECT doc_id,
                         unnest(list_slice({_TOKENS_SQL}, 1, 3)) AS t
                  FROM documents WHERE doc_id < {n_queries})
            WHERE t <> ''
        ), dfr AS (
            SELECT term, count(*) AS df FROM tf
            WHERE term IN (SELECT term FROM q)
            GROUP BY term
        ), jb AS (
            SELECT q.query_id, tf.doc_id,
                   CAST(floor(
                       CAST((2*s.n_docs - 2*dfr.df + 1) * 22
                            * tf.tf * s.totlen AS DOUBLE)
                       / CAST((2*dfr.df + 1)
                              * (10*s.totlen*tf.tf + 3*s.totlen
                                 + 9*dl.dl*s.n_docs) AS DOUBLE)
                       * 1000000000.0) AS BIGINT) AS nanos
            FROM tf
            JOIN q USING (term)
            JOIN dfr USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats s
        ), bm_scored AS (
            SELECT query_id, doc_id, sum(nanos) AS score_nanos
            FROM jb GROUP BY query_id, doc_id
        ), bm AS (
            SELECT query_id, doc_id, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY score_nanos DESC, doc_id) AS rank
                FROM bm_scored WHERE doc_id <> query_id)
            WHERE rank <= {k_list}
        ), e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), qe AS (SELECT * FROM e WHERE vec_id < {n_queries}),
        cos_scored AS (
            SELECT qe.vec_id AS query_id, e.vec_id AS doc_id,
                   round(list_dot_product(qe.v, e.v)
                         / (sqrt(list_dot_product(qe.v, qe.v))
                            * sqrt(list_dot_product(e.v, e.v))), 6)
                       AS cosine
            FROM qe JOIN e ON qe.vec_id <> e.vec_id
        ), cs AS (
            SELECT query_id, doc_id, rank FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY cosine DESC, doc_id) AS rank
                FROM cos_scored)
            WHERE rank <= {k_list}
        ), fused AS (
            SELECT coalesce(bm.query_id, cs.query_id) AS query_id,
                   coalesce(bm.doc_id, cs.doc_id) AS doc_id,
                   coalesce(1000000000 // ({k_rrf} + bm.rank), 0)
                   + coalesce(1000000000 // ({k_rrf} + cs.rank), 0)
                       AS rrf_nanos
            FROM bm FULL OUTER JOIN cs
              ON bm.query_id = cs.query_id AND bm.doc_id = cs.doc_id
        )
        SELECT query_id, rank, doc_id, rrf_nanos
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY rrf_nanos DESC, doc_id) AS rank
              FROM fused)
        WHERE rank <= {k_top}
    """


def _simhash_near_dup_oracle(
    bits: int, bands: int, max_hamming: int, max_band_freq: int
) -> str:
    """Replays simhash_near_dup_pairs: the simhash fingerprint CTEs,
    the pigeonhole band split, the band-frequency cap, and the
    bit_count(xor) confirm."""
    width = bits // bands
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits)
    )
    bandvals = ", ".join(f"({b})" for b in range(bands))
    mask = (1 << width) - 1
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS tok
            FROM documents
        ), h AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
            FROM tok WHERE tok <> ''
        ), votes AS (
            SELECT doc_id, {votes} FROM h GROUP BY doc_id
        ), fp AS (
            SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
        ), banded AS (
            SELECT doc_id, simhash, band,
                   (simhash >> (band * {width})) & {mask} AS val
            FROM fp CROSS JOIN (VALUES {bandvals}) b(band)
        ), capped AS (
            SELECT banded.* FROM banded
            JOIN (SELECT band, val, count(*) AS bf
                  FROM banded GROUP BY band, val) c USING (band, val)
            WHERE c.bf <= {max_band_freq}
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               min(bit_count(xor(a.simhash, b.simhash))) AS hamming
        FROM capped a JOIN capped b USING (band, val)
        WHERE a.doc_id < b.doc_id
          AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
        GROUP BY 1, 2
    """


def _redact_pii_oracle() -> str:
    """Replays operators/prep.py redact_pii (patterns restricted to the
    Java-regex/RE2 common subset) over the same injected-PII text."""
    from geist_spark.operators.prep import EMAIL_RE, IPV4_RE, PHONE_RE

    injected = (
        "text || ' contact user' || CAST(doc_id AS VARCHAR)"
        " || '@mail.example.com from 10.20.30.'"
        " || CAST(doc_id % 250 AS VARCHAR)"
        " || ' call +1 555-01' || CAST(doc_id % 10 AS VARCHAR) || '-2345'"
    )
    return f"""
        WITH base AS (
            SELECT doc_id, {injected} AS t FROM documents
        ), s1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(t, '{EMAIL_RE}')) AS n_emails,
                   regexp_replace(t, '{EMAIL_RE}', '<EMAIL>', 'g') AS r1
            FROM base
        ), s2 AS (
            SELECT doc_id, n_emails,
                   len(regexp_extract_all(r1, '{IPV4_RE}')) AS n_ips,
                   regexp_replace(r1, '{IPV4_RE}', '<IP>', 'g') AS r2
            FROM s1
        )
        SELECT doc_id,
               md5(regexp_replace(r2, '{PHONE_RE}', '<PHONE>', 'g'))
                   AS redacted_md5,
               n_emails, n_ips,
               len(regexp_extract_all(r2, '{PHONE_RE}')) AS n_phones
        FROM s2
    """


def _eventsim_oracle(seed: int, n: int) -> str:
    """Replays the seeded eventsim arithmetic (sources/eventsim.py
    _rand/_gen_value): salt 1 = berry.type predefined pick (factors
    7/3), salt 2 = berry.amount int in [1, 50]."""
    two52 = float(1 << 52)

    def u(salt: int) -> str:
        return (
            f"('0x' || substr(md5(CAST(i AS VARCHAR) || '|r|{salt}|{seed}'), 1, 13))"
            f"::BIGINT / {two52!r}"
        )

    return f"""
        WITH ids AS (SELECT unnest(generate_series(0, {n - 1})) AS i),
        h AS (
            SELECT md5(CAST(i AS VARCHAR) || '|uuid|{seed}') AS hu,
                   {u(1)} AS u1, {u(2)} AS u2
            FROM ids
        )
        SELECT substr(hu, 1, 8) || '-' || substr(hu, 9, 4) || '-' ||
               substr(hu, 13, 4) || '-' || substr(hu, 17, 4) || '-' ||
               substr(hu, 21, 12) AS "eventId",
               CASE WHEN floor(u1 * 10) < 7 THEN 'blueberry'
                    ELSE 'cloudberry' END AS berry,
               CAST(floor(u2 * 50 + 1) AS BIGINT) AS amount
        FROM h
    """


def _user_agent_oracle() -> str:
    """Golden outputs of parse_user_agent for the three UA literals in
    u_user_agent (same goldens pinned in tests/test_transform.py)."""
    g_click = (
        '{"platform":"Windows","operatingSystem":{"name":"Windows",'
        '"fullName":"Windows 10","version":"10.0"},"localization":"",'
        '"browser":{"name":"Chrome","version":"109.0.0.0",'
        '"engine":"AppleWebKit","engineVersion":"537.36"},'
        '"bot":false,"mobile":false}'
    )
    g_view = (
        '{"platform":"iPhone","operatingSystem":{"name":"iPhone OS",'
        '"fullName":"CPU iPhone OS 16_3 like Mac OS X","version":"16.3"},'
        '"localization":"","browser":{"name":"Safari","version":"16.3",'
        '"engine":"AppleWebKit","engineVersion":"605.1.15"},'
        '"bot":false,"mobile":true}'
    )
    g_bot = (
        '{"platform":"+http://www.google.com/bot.html",'
        '"operatingSystem":{"name":"",'
        '"fullName":"+http://www.google.com/bot.html","version":""},'
        '"localization":"","browser":{"name":"Googlebot","version":"2.1",'
        '"engine":"","engineVersion":""},"bot":true,"mobile":false}'
    )
    return f"""
        SELECT event_id,
               CASE WHEN event_type = 'click' THEN '{g_click}'
                    WHEN event_type = 'view' THEN '{g_view}'
                    ELSE '{g_bot}' END AS ua_json
        FROM events
    """


def _simhash_oracle(bits: int) -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
        for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
        WITH tok AS (
            SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS tok
            FROM documents
        ), h AS (
            SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h
            FROM tok WHERE tok <> ''
        ), votes AS (
            SELECT doc_id, {votes} FROM h GROUP BY doc_id
        )
        SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


def _cosine_topk_oracle(k: int = 5, n_queries: int = 10) -> str:
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), q AS (SELECT * FROM e WHERE vec_id < {n_queries}),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   round(list_dot_product(q.v, e.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(e.v, e.v))), 6) AS cosine
            FROM q JOIN e ON q.vec_id <> e.vec_id
        )
        SELECT query_id, neighbor_id, cosine,
               CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def _ann_recall_oracle(k: int = 5) -> str:
    """Exact top-k and LSH top-k composed; recall@k per probe."""
    return f"""
        WITH exact AS ({_cosine_topk_oracle(k=k)}),
        approx AS ({_ann_lsh_oracle(num_planes=4, dim=64, k=k, n_queries=10)}),
        matched AS (
            SELECT e.query_id, count(*) AS n
            FROM exact e JOIN approx a
              ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
            GROUP BY 1
        ), qs AS (SELECT DISTINCT query_id FROM exact)
        SELECT qs.query_id,
               coalesce(m.n, 0) AS n_matched,
               round(coalesce(m.n, 0) / {float(k)}, 6) AS recall
        FROM qs LEFT JOIN matched m ON m.query_id = qs.query_id
    """


def _join_size_oracle(width: int, depth: int) -> str:
    from geist_spark.operators.sketch import CMS_P, cms_params

    params_values = ", ".join(
        f"({d}, {a}, {b})" for d, (a, b) in enumerate(cms_params(depth))
    )
    def cells(table, col):
        return f"""
            SELECT p.d AS d,
                   ((p.a * (('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 8))::BIGINT)
                     + p.b) % {CMS_P}) % {width} AS pos,
                   count(*) AS n
            FROM {table} CROSS JOIN params p
            WHERE {col} IS NOT NULL
            GROUP BY 1, 2
        """
    return f"""
        WITH params(d, a, b) AS (VALUES {params_values}),
        ca AS ({cells("events", "user_id")}),
        cb AS ({cells("orders", "o_custkey")}),
        per_d AS (
            SELECT ca.d, sum(ca.n * cb.n) AS ip
            FROM ca JOIN cb ON ca.d = cb.d AND ca.pos = cb.pos
            GROUP BY 1
        )
        SELECT min(ip) AS join_size_est FROM per_d
    """


def _minhash_bands_cte(num_hashes: int, bands: int) -> str:
    """Shared CTE body ending in a `bands(doc_id, band_id, band_hash)`
    relation — replays minhash_bands() arithmetic exactly."""
    from geist_spark.operators.dedup import MINHASH_P, minhash_params

    rows_per_band = num_hashes // bands
    shingle_list = (
        "list_distinct([array_to_string(toks[i:i+2], ' ') "
        "for i in generate_series(1, greatest(len(toks) - 2, 1))])"
    )
    sig_cols = ", ".join(
        f"min(({a} * h + {b}) % {MINHASH_P}) AS sig_{s}"
        for s, (a, b) in enumerate(minhash_params(num_hashes))
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_id, md5({concat}) AS band_hash FROM sigs".format(
            b=b,
            concat=" || '|' || ".join(
                f"CAST(sig_{b * rows_per_band + r} AS VARCHAR)"
                for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""
        WITH t AS (
            SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents
        ), sh AS (
            SELECT doc_id, unnest({shingle_list}) AS shingle FROM t
        ), shf AS (
            SELECT doc_id, shingle FROM sh WHERE shingle <> ''
        ), hashed AS (
            SELECT doc_id, ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h
            FROM shf
        ), sigs AS (
            SELECT doc_id, {sig_cols} FROM hashed GROUP BY doc_id
        ), bands AS ({band_selects})
    """


def _verified_pairs_oracle(num_hashes: int, bands: int, threshold: float) -> str:
    """Minhash candidate CTE + exact-Jaccard confirm, mirroring
    verified_near_dup_pairs (shf = the shared shingle relation)."""
    return f"""
        {_minhash_bands_cte(num_hashes, bands)}, cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a JOIN bands b
              ON a.band_id = b.band_id AND a.band_hash = b.band_hash
             AND a.doc_id < b.doc_id
        ), sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM shf GROUP BY doc_id
        ), inter AS (
            SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM cand c
            JOIN shf x ON x.doc_id = c.doc_a
            JOIN shf y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
            GROUP BY 1, 2
        ), scored AS (
            SELECT i.doc_a, i.doc_b, i.n_common,
                   round(i.n_common / CAST(sa.n_sh + sb.n_sh - i.n_common
                                           AS DOUBLE), 6) AS jaccard
            FROM inter i
            JOIN sizes sa ON sa.doc_id = i.doc_a
            JOIN sizes sb ON sb.doc_id = i.doc_b
        )
        SELECT * FROM scored WHERE jaccard >= {threshold}
    """


def _strip_metadata_oracle() -> str:
    """Lengths + md5 of the expected stripped payload: the base JPEG
    is a deterministic fixture constant, so its md5/length embed as
    literals (the fixture-encoder side of the gate, not the operator
    under test); APP1 sizes are the analytic 99 (no GPS) / 129
    (GPS) bytes pinned in _exif_fixture_parts."""
    import hashlib

    base = _exif_base_jpeg()
    md5 = hashlib.md5(base).hexdigest()
    return f"""
        SELECT doc_id AS media_id,
               CAST({len(base)} + CASE WHEN doc_id % 3 = 0
                                       THEN 129 ELSE 99 END AS BIGINT)
                   AS orig_len,
               CAST({len(base)} AS BIGINT) AS stripped_len,
               '{md5}' AS payload_md5
        FROM documents
    """


def _strip_wav_oracle() -> str:
    """The WAV twin of _strip_metadata_oracle: constant-base md5 +
    analytic LIST (56) / id3 (12) chunk sizes."""
    import hashlib

    base = _riff_base_wav()
    md5 = hashlib.md5(base).hexdigest()
    return f"""
        SELECT doc_id AS media_id,
               CAST({len(base)} + 56 + CASE WHEN doc_id % 4 = 0
                                            THEN 12 ELSE 0 END AS BIGINT)
                   AS orig_len,
               CAST({len(base)} AS BIGINT) AS stripped_len,
               '{md5}' AS payload_md5
        FROM documents
    """


def _strip_png_oracle() -> str:
    """PNG twin of _strip_metadata_oracle: constant-base md5 +
    analytic tEXt (21) + tIME (19) chunk sizes."""
    import hashlib

    from geist_spark.operators.multimodal import png_encode_rgb

    base = png_encode_rgb(4, 2, bytes(range(24)), [1, 4])
    md5 = hashlib.md5(base).hexdigest()
    return f"""
        SELECT doc_id AS media_id,
               CAST({len(base)} + 40 AS BIGINT) AS orig_len,
               CAST({len(base)} AS BIGINT) AS stripped_len,
               '{md5}' AS payload_md5
        FROM documents
    """


def _strip_mp3_oracle() -> str:
    """MP3 twin of _strip_metadata_oracle: constant-body md5 +
    analytic 64-byte ID3v2 tag and 128-byte ID3v1 trailer."""
    import hashlib

    md5 = hashlib.md5(_MP3_BODY).hexdigest()
    return f"""
        SELECT doc_id AS media_id,
               CAST(64 + {len(_MP3_BODY)}
                    + CASE WHEN doc_id % 2 = 0 THEN 128 ELSE 0 END
                    AS BIGINT) AS orig_len,
               CAST({len(_MP3_BODY)} AS BIGINT) AS stripped_len,
               '{md5}' AS payload_md5
        FROM documents
    """


def _adpcm_oracle() -> str:
    """SQL replay of the IMA ADPCM state machine (m_decode_adpcm):
    nibbles from the md5 bytes low-first, a RECURSIVE CTE stepping
    (pred, idx, running peak, running sum-of-squares) one nibble per
    iteration, with the step/diff/clamp pipeline staged through
    nested subqueries so each expression is written once.

    Deliberately NOT list_reduce: DuckDB 1.0 evaluates a reduce
    lambda's struct fields sequentially against an IN-PLACE-updated
    accumulator, so a later field reading acc.pred sees the NEW pred
    — state-machine replays silently diverge (verified with a
    minimal repro; tests/test_entry_contract.py pins the repro so a
    fixed DuckDB flips it visibly)."""
    from geist_spark.operators.multimodal import (
        _IMA_INDEX_TABLE,
        _IMA_STEP_TABLE,
    )

    steps = "[" + ", ".join(str(s) for s in _IMA_STEP_TABLE) + "]"
    idxs = "[" + ", ".join(str(i) for i in _IMA_INDEX_TABLE) + "]"
    return f"""
        WITH RECURSIVE {_MD5_BYTES_CTE_SQL}, st AS (
            SELECT doc_id,
                   CASE WHEN bytes[1] + 256*bytes[2] >= 32768
                        THEN bytes[1] + 256*bytes[2] - 65536
                        ELSE bytes[1] + 256*bytes[2] END AS pred0,
                   bytes[3] % 89 AS idx0,
                   flatten([[bytes[i] % 16, bytes[i] // 16]
                            for i in generate_series(4, 24)]) AS nibs
            FROM b
        ), dec AS (
            SELECT doc_id, 0 AS i, pred0 AS pred, idx0 AS idx,
                   CAST(abs(pred0) AS BIGINT) AS peak,
                   CAST(pred0 AS BIGINT) * pred0 AS ss, nibs
            FROM st
            UNION ALL
            SELECT doc_id, i + 1,
                   greatest(-32768, least(32767, predn)) AS pred,
                   greatest(0, least(88, idx + {idxs}[nib + 1])) AS idx,
                   greatest(peak,
                            abs(greatest(-32768, least(32767, predn)))),
                   ss + CAST(greatest(-32768, least(32767, predn))
                             AS BIGINT)
                      * greatest(-32768, least(32767, predn)),
                   nibs
            FROM (
                SELECT *, CASE WHEN nib >= 8 THEN pred - d
                               ELSE pred + d END AS predn
                FROM (
                    SELECT *,
                           step // 8
                           + CASE WHEN nib % 2 = 1
                                  THEN step // 4 ELSE 0 END
                           + CASE WHEN (nib // 2) % 2 = 1
                                  THEN step // 2 ELSE 0 END
                           + CASE WHEN (nib // 4) % 2 = 1
                                  THEN step ELSE 0 END AS d
                    FROM (
                        SELECT doc_id, i, pred, idx, peak, ss, nibs,
                               nibs[i + 1] AS nib,
                               {steps}[idx + 1] AS step
                        FROM dec WHERE i < 42
                    )
                )
            )
        )
        SELECT doc_id AS media_id,
               'WAV' AS format,
               CAST(1 AS INTEGER) AS n_channels,
               CAST(8000 AS INTEGER) AS sample_rate,
               CAST(4 AS INTEGER) AS bit_depth,
               CAST(43 AS BIGINT) AS n_frames,
               CAST(5 AS BIGINT) AS duration_ms,
               peak AS peak_abs,
               CAST(ss // 43 AS BIGINT) AS mean_square_fx
        FROM dec WHERE i = 42
    """


def _minhash_oracle(num_hashes: int, bands: int) -> str:
    return f"""
        {_minhash_bands_cte(num_hashes, bands)}
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """


def _incremental_dedup_oracle(num_hashes: int, bands: int) -> str:
    """Bands over all docs, then new batch (doc_id%5=0) probes the
    corpus index (doc_id%5<>0) — signatures are per-doc, so banding
    the full table and filtering is identical to banding each side."""
    return f"""
        {_minhash_bands_cte(num_hashes, bands)}
        SELECT DISTINCT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
        FROM bands n JOIN bands c
          ON n.band_id = c.band_id AND n.band_hash = c.band_hash
        WHERE n.doc_id % 5 = 0 AND c.doc_id % 5 <> 0
    """


def _cms_oracle(width: int, depth: int) -> str:
    """Replays cms_rollup/merge/estimate arithmetic: md5-32bit item
    hash, universal-hash positions, per-(d,pos) counts, min-over-depth
    estimates, top 10."""
    from geist_spark.operators.sketch import CMS_P, cms_params

    params_values = ", ".join(
        f"({d}, {a}, {b})" for d, (a, b) in enumerate(cms_params(depth))
    )
    return f"""
        WITH params(d, a, b) AS (VALUES {params_values}),
        ev AS (
            SELECT user_id,
                   ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS h
            FROM events WHERE user_id IS NOT NULL
        ), cells AS (
            SELECT p.d AS d, ((p.a * e.h + p.b) % {CMS_P}) % {width} AS pos,
                   count(*) AS n
            FROM ev e CROSS JOIN params p GROUP BY 1, 2
        ), probes AS (
            SELECT DISTINCT user_id, h FROM ev
        ), probe_cells AS (
            SELECT pr.user_id, p.d AS d,
                   ((p.a * pr.h + p.b) % {CMS_P}) % {width} AS pos
            FROM probes pr CROSS JOIN params p
        ), est AS (
            SELECT pc.user_id, min(coalesce(c.n, 0)) AS est_count
            FROM probe_cells pc
            LEFT JOIN cells c ON c.d = pc.d AND c.pos = pc.pos
            GROUP BY 1
        )
        SELECT user_id, est_count FROM est
        ORDER BY est_count DESC, user_id LIMIT 10
    """


def _dedup_clusters_oracle(num_hashes: int, bands: int) -> str:
    """Connected components via recursive CTE over the same minhash
    pairs the Spark side clusters (min reachable doc_id per vertex)."""
    pairs_sql = _minhash_oracle(num_hashes=num_hashes, bands=bands)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
        )
        SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
    """


def _keep_canonical_oracle(num_hashes: int, bands: int) -> str:
    pairs_sql = _minhash_oracle(num_hashes=num_hashes, bands=bands)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
        ),
        labels AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        )
        SELECT d.doc_id
        FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
        WHERE l.cluster_id IS NULL OR l.cluster_id = d.doc_id
    """


def _negatives_oracle(
    num_hashes: int, bands: int, k: int, oversample: int, seed: str = "neg"
) -> str:
    """Replays split.sample_negatives: same md5 probe arithmetic, same
    recursive-CTE cluster labels, same first-k-by-probe-index rule."""
    pairs_sql = _minhash_oracle(num_hashes=num_hashes, bands=bands)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
        ),
        labels AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        ),
        nd AS (SELECT count(*) AS n FROM documents),
        probes AS (
            SELECT d.doc_id AS anchor_id, j,
                   ('0x' || substr(md5('{seed}|'
                        || CAST(d.doc_id AS VARCHAR) || '|'
                        || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                   % (SELECT n FROM nd) AS cand
            FROM documents d,
                 unnest(generate_series(0, {k * oversample - 1})) AS t(j)
        ),
        dedup AS (
            SELECT anchor_id, cand, min(j) AS j
            FROM probes WHERE cand <> anchor_id
            GROUP BY anchor_id, cand
        ),
        flt AS (
            SELECT p.anchor_id, p.j, p.cand
            FROM dedup p
            LEFT JOIN labels la ON la.doc_id = p.anchor_id
            LEFT JOIN labels lc ON lc.doc_id = p.cand
            WHERE la.cluster_id IS NULL OR lc.cluster_id IS NULL
               OR la.cluster_id <> lc.cluster_id
        )
        SELECT anchor_id, cand AS neg_id, CAST(rn AS INT) AS slot
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY anchor_id ORDER BY j) AS rn FROM flt)
        WHERE rn <= {k}
    """


def _kfold_oracle(num_hashes: int, bands: int, k: int, salt: str = "fold") -> str:
    """Replays split.kfold_split keyed by the recursive-CTE cluster
    representative, plus the per-fold token totals."""
    pairs_sql = _minhash_oracle(num_hashes=num_hashes, bands=bands)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
        ),
        labels AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        ),
        folded AS (
            SELECT d.text,
                   CAST(('0x' || substr(md5('{salt}|' || CAST(
                       coalesce(l.cluster_id, d.doc_id) AS VARCHAR)), 1, 8)
                       )::BIGINT % {k} AS INT) AS fold
            FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
        )
        SELECT fold, count(*) AS n_docs,
               sum(len({_TOKENS_SQL})) AS total_tokens
        FROM folded GROUP BY fold
    """


def _cluster_sizes_oracle(num_hashes: int, bands: int) -> str:
    """Replays d_cluster_sizes: recursive-CTE clusters -> per-cluster
    size -> size histogram."""
    pairs_sql = _minhash_oracle(num_hashes=num_hashes, bands=bands)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
        ),
        labels AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        ),
        sizes AS (
            SELECT cluster_id, count(*) AS size FROM labels GROUP BY cluster_id
        )
        SELECT size, count(*) AS n_clusters FROM sizes GROUP BY size
    """


def _keep_best_oracle(num_hashes: int, bands: int) -> str:
    """Replays dedup.keep_best: recursive-CTE clusters, argmax
    survivor (n_chars desc, doc_id asc) per cluster, singletons pass
    through."""
    pairs_sql = _minhash_oracle(num_hashes=num_hashes, bands=bands)
    return f"""
        WITH RECURSIVE pairs AS ({pairs_sql}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id
        ),
        labels AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        ),
        joined AS (
            SELECT d.doc_id, d.n_chars, l.cluster_id
            FROM documents d LEFT JOIN labels l ON d.doc_id = l.doc_id
        )
        SELECT doc_id, n_chars FROM joined WHERE cluster_id IS NULL
        UNION ALL
        SELECT doc_id, n_chars FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cluster_id
                ORDER BY n_chars DESC, doc_id) AS rn
            FROM joined WHERE cluster_id IS NOT NULL)
        WHERE rn = 1
    """


def _leakage_safe_split_oracle(num_hashes: int, bands: int) -> str:
    from geist_spark.operators.split import split_oracle_case

    labels_sql = _dedup_clusters_oracle(num_hashes=num_hashes, bands=bands)
    case = split_oracle_case(
        "coalesce(l.cluster_id, d.doc_id)", SPLIT_WEIGHTS
    )
    return f"""
        WITH labels AS ({labels_sql})
        SELECT {case} AS split, count(*) AS n_docs
        FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
        GROUP BY 1
    """


def _dup_rate_oracle(num_hashes: int, bands: int) -> str:
    pairs_sql = _minhash_oracle(num_hashes=num_hashes, bands=bands)
    return f"""
        WITH pairs AS ({pairs_sql}),
        dup_docs AS (
            SELECT DISTINCT doc_id FROM (
                SELECT doc_a AS doc_id FROM pairs
                UNION ALL SELECT doc_b FROM pairs)
        )
        SELECT d.source, count(*) AS n_docs,
               sum(CASE WHEN dd.doc_id IS NULL THEN 0 ELSE 1 END)
                   AS n_dup_docs,
               round(CAST(sum(CASE WHEN dd.doc_id IS NULL THEN 0 ELSE 1 END)
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                   AS dup_rate
        FROM documents d LEFT JOIN dup_docs dd ON dd.doc_id = d.doc_id
        GROUP BY d.source
    """


def _dataset_split_oracle() -> str:
    from geist_spark.operators.split import split_oracle_case

    case = split_oracle_case("doc_id", SPLIT_WEIGHTS)
    return f"""
        SELECT {case} AS split, count(*) AS n,
               CAST(sum(length(text)) AS DOUBLE) / count(*) AS avg_len
        FROM documents GROUP BY 1
    """


def _stratified_sample_oracle() -> str:
    from geist_spark.operators.split import _hex_threshold

    whens = " ".join(
        f"WHEN source = '{s}' THEN '{_hex_threshold(f, 4)}'"
        for s, f in STRATA_FRACTIONS.items()
    )
    return f"""
        SELECT doc_id, source FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'strat'), 1, 4) <
              (CASE {whens} ELSE '{_hex_threshold(0.25, 4)}' END)
    """


def _deterministic_sample_oracle(fraction: float, salt: str) -> str:
    from geist_spark.operators.split import _hex_threshold

    return f"""
        SELECT doc_id FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || '{salt}'), 1, 4)
              < '{_hex_threshold(fraction, 4)}'
    """


def _ann_lsh_oracle(num_planes: int, dim: int, k: int, n_queries: int) -> str:
    from geist_spark.operators.similarity import _hyperplane

    plane_dots = []
    for p in range(num_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        plane_dots.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN {2**p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_dots)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), bucketed AS (
            SELECT vec_id, v, {bucket} AS bucket FROM e
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   round(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
            FROM bucketed q JOIN bucketed c
              ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < {n_queries}
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def _ann_multiprobe_oracle(
    num_planes: int, dim: int, k: int, n_queries: int
) -> str:
    """Replays lsh_multiprobe_topk: queries probe their bucket plus
    every Hamming-1 bucket (xor with each 2^i), dedupe per pair, exact
    cosine re-rank."""
    from geist_spark.operators.similarity import _hyperplane

    plane_dots = []
    for p in range(num_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        plane_dots.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN {2**p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_dots)
    flips = ", ".join(["0"] + [str(2**i) for i in range(num_planes)])
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), bucketed AS (
            SELECT vec_id, v, {bucket} AS bucket FROM e
        ), probes AS (
            SELECT vec_id, v, xor(bucket, f) AS bucket
            FROM bucketed, unnest([{flips}]) AS t(f)
            WHERE vec_id < {n_queries}
        ), scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   max(round(list_dot_product(q.v, c.v)
                         / (sqrt(list_dot_product(q.v, q.v))
                            * sqrt(list_dot_product(c.v, c.v))), 6))
                       AS cosine
            FROM probes q JOIN bucketed c
              ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            GROUP BY q.vec_id, c.vec_id
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def _ann_ivf_oracle(n_cells: int, nprobe: int, k: int, n_queries: int) -> str:
    cos = (
        "round(list_dot_product(e.v, c.cv)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), c AS (
            SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < {n_cells}
        ), ranked AS (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos} DESC, c.cid DESC) AS rn
            FROM e CROSS JOIN c
        ), assign AS (
            SELECT vec_id, v, cid AS cell FROM ranked WHERE rn = 1
        ), probes AS (
            SELECT vec_id AS query_id, v AS qv, cid AS cell
            FROM ranked WHERE vec_id < {n_queries} AND rn <= {nprobe}
        ), scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   round(list_dot_product(p.qv, a.v)
                         / (sqrt(list_dot_product(p.qv, p.qv))
                            * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
            FROM probes p JOIN assign a
              ON a.cell = p.cell AND a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= {k}
    """


def _ivf_train_cte_parts(k: int, iters: int, dim: int) -> tuple[list[str], str]:
    """CTE chain replaying fixed-point Lloyd k-means
    (train_ivf_centroids): exact long arithmetic, so the match is
    bit-exact by construction. Floor division is spelled out
    ((s - posmod) // cnt) because DuckDB's // truncates toward zero
    while the operator floors. Returns (parts, final_assignment_cte)."""
    from geist_spark.operators.similarity import FX_SCALE

    parts = [
        f"""fx AS (
            SELECT vec_id,
                   [CAST(floor(CAST(x AS DOUBLE) * {FX_SCALE}) AS BIGINT)
                    for x in embedding] AS fx
            FROM embeddings
        )""",
        f"c0 AS (SELECT vec_id AS cid, fx AS c FROM fx WHERE vec_id < {k})",
    ]
    for it in range(iters):
        parts.append(f"""d{it} AS (
            SELECT f.vec_id, f.fx, c.cid,
                   CAST(list_sum([(f.fx[i] - c.c[i]) * (f.fx[i] - c.c[i])
                                  for i in generate_series(1, {dim})]) AS BIGINT) AS d
            FROM fx f CROSS JOIN c{it} c
        )""")
        parts.append(f"""a{it} AS (
            SELECT vec_id, fx, cid AS cell, d AS sq_dist
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id ORDER BY d, cid) AS rn
                  FROM d{it})
            WHERE rn = 1
        )""")
        if it == iters - 1:
            break
        parts.append(f"""s{it} AS (
            SELECT cell, i,
                   CAST(sum(fx[i]) AS BIGINT) AS s,
                   count(*) AS cnt
            FROM a{it}, (SELECT unnest(generate_series(1, {dim})) AS i) ix
            GROUP BY cell, i
        )""")
        parts.append(f"""c{it + 1} AS (
            SELECT cell AS cid,
                   list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY i) AS c
            FROM s{it}
            GROUP BY cell
            UNION ALL
            SELECT cid, c FROM c{it}
            WHERE cid NOT IN (SELECT DISTINCT cell FROM a{it})
        )""")
    return parts, f"a{iters - 1}"


def _pagerank_iter_parts(
    iters: int = 3, num: int = 85, den: int = 100
) -> list[str]:
    """CTE parts replaying graph.pagerank's fixed-point iterations
    over a previously-defined `edges(src, dst)` CTE: node set, node
    count, out-degrees, base/pr0 params, then `iters` unrolled
    contribute/update rounds ending in r{iters}. All-long arithmetic
    with positive operands, so DuckDB's // is the same floor division
    the operator computes. Shared by _pagerank_oracle (md5 link graph)
    and the t_textrank oracle (word co-occurrence graph)."""
    from geist_spark.operators.graph import PR_SCALE

    parts = [
        """nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges)
        )""",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"""params AS (
            SELECT ({PR_SCALE} // n) AS pr0,
                   (({den - num}) * ({PR_SCALE} // n)) // {den} AS base
            FROM nn
        )""",
        "r0 AS (SELECT node, (SELECT pr0 FROM params) AS pr FROM nodes)",
    ]
    for it in range(iters):
        parts.append(f"""c{it} AS (
            SELECT e.dst AS node_in,
                   CAST(sum(r.pr // o.deg) AS BIGINT) AS inflow
            FROM edges e
            JOIN r{it} r ON e.src = r.node
            JOIN outdeg o ON e.src = o.src
            GROUP BY e.dst
        )""")
        parts.append(f"""r{it + 1} AS (
            SELECT n.node,
                   CAST((SELECT base FROM params)
                        + ({num} * coalesce(c.inflow, 0)) // {den}
                        AS BIGINT) AS pr
            FROM nodes n LEFT JOIN c{it} c ON n.node = c.node_in
        )""")
    return parts


def _kcore_oracle(k: int = 4, rounds: int = 12) -> str:
    """Replays graph.kcore over q_kcore's md5 link graph: mirror +
    dedup, then `rounds` unrolled peel steps (degree >= k semi-joins).
    Peeling is monotone, so any unroll >= the true convergence depth
    lands on the same fixed point the operator early-exits at.
    rounds=12 is a 4x margin over the measured depth (<= 3 at both
    test SFs) — if a future SF's random graph ever needs more, the
    operator (which iterates to the TRUE fixed point and raises if
    unconverged) would hash-mismatch this oracle: raise `rounds`."""
    parts = [
        "nd AS (SELECT count(*) AS n FROM documents)",
        """raw AS (
            SELECT doc_id AS src,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                       || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                   % (SELECT n FROM nd) AS dst
            FROM documents, unnest([1, 2, 3]) AS t(j)
        )""",
        """e0 AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM raw WHERE src <> dst
                UNION ALL
                SELECT dst, src FROM raw WHERE src <> dst)
        )""",
    ]
    for r in range(1, rounds + 1):
        # MATERIALIZED is load-bearing: default CTE inlining expands
        # e{r} into 3 copies of e{r-1} (FROM + two IN-subqueries) —
        # 3^rounds scans of the parquet file (EMFILE at rounds=8)
        parts.append(f"""k{r} AS MATERIALIZED (
            SELECT src FROM e{r - 1} GROUP BY src HAVING count(*) >= {k}
        )""")
        parts.append(f"""e{r} AS MATERIALIZED (
            SELECT e.src, e.dst FROM e{r - 1} e
            WHERE e.src IN (SELECT src FROM k{r})
              AND e.dst IN (SELECT src FROM k{r})
        )""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM e{rounds} GROUP BY src"""
    )


def _pagerank_oracle(
    iters: int = 3, num: int = 85, den: int = 100
) -> str:
    """Replays graph.pagerank over q_pagerank's md5-derived link graph
    (edge build + the shared _pagerank_iter_parts replay)."""
    parts = [
        "nd AS (SELECT count(*) AS n FROM documents)",
        """edges AS (
            SELECT doc_id AS src,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                       || CAST(j AS VARCHAR)), 1, 8))::BIGINT
                   % (SELECT n FROM nd) AS dst
            FROM documents, unnest([1, 2, 3]) AS t(j)
        )""",
    ] + _pagerank_iter_parts(iters, num, den)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, pr FROM r{iters}"
    )


def _coreset_oracle(
    k: int = 8, iters: int = 2, dim: int = 64, n: int = 10
) -> str:
    """Replays similarity.coreset_select (policy='central'): the
    shared fixed-point Lloyd replay, then rank<=n per cell by
    (sq_dist, vec_id)."""
    parts, asg = _ivf_train_cte_parts(k=k, iters=iters, dim=dim)
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT vec_id, cell, sq_dist, CAST(rank AS INT) AS rank
        FROM (SELECT vec_id, cell, sq_dist, row_number() OVER (
                  PARTITION BY cell ORDER BY sq_dist, vec_id) AS rank
              FROM {asg})
        WHERE rank <= {n}"""
    )


def _rp_recall_oracle(
    dim: int = 64, out_dim: int = 16, k: int = 10, n_queries: int = 10
) -> str:
    """Replays similarity.rp_recall: the SAME md5-derived sign matrix
    (imported from the operator), the fixed-point projection — every
    product an exact integer below 2^53, so DuckDB's double
    list_dot_product is lossless — then the two cosine top-k passes
    and the overlap join, mirroring the s_matryoshka oracle."""
    from geist_spark.operators.similarity import RP_SCALE, _rp_signs

    signs = _rp_signs(dim, out_dim)
    proj_exprs = ",\n                       ".join(
        f"CAST(list_dot_product(fx, {row}::BIGINT[]) AS DOUBLE)"
        for row in signs
    )

    def topk(vec: str, name: str) -> str:
        return f"""{name} AS (
                SELECT * FROM (
                    SELECT query_id, neighbor_id, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS rank
                    FROM (
                        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                               round(list_dot_product(q.{vec}, e.{vec})
                                     / (sqrt(list_dot_product(q.{vec}, q.{vec}))
                                        * sqrt(list_dot_product(e.{vec}, e.{vec}))),
                                     6) AS cosine
                        FROM q JOIN e ON q.vec_id <> e.vec_id))
                WHERE rank <= {k}
            )"""

    return f"""
            WITH fxd AS (
                SELECT vec_id, embedding::DOUBLE[] AS v,
                       [CAST(floor(CAST(x AS DOUBLE) * {RP_SCALE}) AS BIGINT)
                        for x in embedding] AS fx
                FROM embeddings
            ), e AS (
                SELECT vec_id, v,
                       [{proj_exprs}] AS p
                FROM fxd
            ), q AS (SELECT * FROM e WHERE vec_id < {n_queries}),
            {topk("v", "fulltop")},
            {topk("p", "redtop")},
            ov AS (
                SELECT f.query_id, count(*) AS n_overlap
                FROM fulltop f JOIN redtop t
                  ON f.query_id = t.query_id
                 AND f.neighbor_id = t.neighbor_id
                GROUP BY 1
            )
            SELECT q.vec_id AS query_id,
                   coalesce(ov.n_overlap, 0) AS n_overlap,
                   coalesce(ov.n_overlap, 0) / {k} AS recall
            FROM q LEFT JOIN ov ON ov.query_id = q.vec_id
    """


def _holt_oracle(
    an: int = 3,
    ad: int = 10,
    bn: int = 1,
    bd: int = 5,
    scale: int = 1000,
    horizon: int = 7,
) -> str:
    """Replays drift.holt_forecast with a per-key recursive CTE: the
    same scaled-long recurrences in subtract-pmod form. NOTE: DuckDB's
    integer // TRUNCATES (plain -7//5 is -1, not -2); the replay is
    floor-exact only because the pmod subtraction makes the numerator
    exactly divisible (truncation == floor there) — the subtraction is
    load-bearing, same as the pagerank oracle."""

    def fdiv(a: str, d: int) -> str:
        return f"(({a}) - (((({a}) % {d}) + {d}) % {d})) // {d}"

    lnew = fdiv(f"{an} * i.y * {scale} + {ad - an} * (r.l + r.t)", ad)
    tnew = fdiv(f"{bn} * (s.l2 - s.l1) + {bd - bn} * s.t1", bd)
    return f"""
            WITH RECURSIVE daily AS (
                SELECT event_type, date_trunc('day', ts) AS day,
                       count(*) AS y
                FROM events GROUP BY 1, 2
            ), idx AS (
                SELECT event_type, y, row_number() OVER (
                    PARTITION BY event_type ORDER BY day) AS rn
                FROM daily
            ), nmax AS (
                SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
                FROM idx GROUP BY 1
            ), rec(event_type, rn, l, t) AS (
                SELECT event_type, rn,
                       CAST(y * {scale} AS BIGINT), CAST(0 AS BIGINT)
                FROM idx WHERE rn = 1
                UNION ALL
                SELECT s.event_type, s.rn,
                       CAST(s.l2 AS BIGINT), CAST({tnew} AS BIGINT)
                FROM (
                    SELECT i.event_type, i.rn, r.l AS l1, r.t AS t1,
                           {lnew} AS l2
                    FROM rec r JOIN idx i
                      ON i.event_type = r.event_type AND i.rn = r.rn + 1
                ) s
            )
            SELECT r.event_type, n.n_days, r.l AS level_fx,
                   r.t AS trend_fx,
                   r.l + r.t AS forecast_next_fx,
                   r.l + {horizon} * r.t AS forecast_h_fx
            FROM rec r
            JOIN nmax n ON n.event_type = r.event_type
                       AND r.rn = n.n_days
    """


def _textrank_oracle(iters: int = 3, top_n: int = 20) -> str:
    """Replays text.textrank_keywords: tokenization + adjacency edge
    build (the same lag/pos-delta rule as the operator), then the
    shared _pagerank_iter_parts fixed-point replay, then top-n by
    (pr desc, word asc)."""
    parts = [
        r"""tk AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(
                       lower(text), '\s+', ' ', 'g')), '\s+') AS l
            FROM documents
        )""",
        """pos AS (
            SELECT doc_id, i.i AS pos, l[i.i] AS tok
            FROM tk, LATERAL (SELECT unnest(generate_series(
                1, len(l))) AS i) i
        )""",
        """ns AS (
            SELECT doc_id, pos, tok FROM pos
            WHERE tok <> '' AND tok NOT IN
                  ('the','and','of','to','a','in','is','it','that','for')
        )""",
        """adj AS (
            SELECT doc_id, pos, tok AS w2,
                   lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       AS prev_pos,
                   lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1
            FROM ns
        )""",
        """pairs AS (
            SELECT w1, w2 FROM adj
            WHERE pos - prev_pos = 1 AND w1 <> w2
        )""",
        """edges AS (
            SELECT DISTINCT src, dst FROM (
                SELECT w1 AS src, w2 AS dst FROM pairs
                UNION ALL SELECT w2, w1 FROM pairs)
        )""",
    ] + _pagerank_iter_parts(iters)
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT node AS word, pr, CAST(rank AS INT) AS rank
        FROM (SELECT node, pr, row_number() OVER (
                  ORDER BY pr DESC, node) AS rank
              FROM r{iters})
        WHERE rank <= {top_n}"""
    )


def _pq_cte_parts(
    m: int, k: int, iters: int, dim: int, n_queries: int,
    fx_select: str | None = None, include_dt: bool = True,
) -> tuple[list[str], str]:
    """CTE chain replaying pq_train_encode + the per-query ADC
    distance tables (`dt`): per-subspace fixed-point Lloyd (same
    floor-division spelling as _ivf_train_cte_parts, keyed by
    (subspace, cid)). Returns (parts, final_assignment_cte) so
    _pq_adc_oracle and the composed _ivf_pq_oracle share one replay.
    Exact long arithmetic throughout. `fx_select` overrides the fx
    source (residual IVFPQ trains on IVF residuals instead of raw
    vectors); include_dt=False skips the raw-vector dt CTE (residual
    dt is per-(query, cell) and built by the caller)."""
    from geist_spark.operators.similarity import FX_SCALE

    dsub = dim // m
    parts = [
        f"fx AS ({fx_select})" if fx_select else
        f"""fx AS (
            SELECT vec_id,
                   [CAST(floor(CAST(x AS DOUBLE) * {FX_SCALE}) AS BIGINT)
                    for x in embedding] AS fx
            FROM embeddings
        )""",
        f"""sub AS (
            SELECT vec_id, j,
                   [fx[i] for i in
                    generate_series(j * {dsub} + 1, (j + 1) * {dsub})] AS sfx
            FROM fx, (SELECT unnest(generate_series(0, {m - 1})) AS j) js
        )""",
        f"c0 AS (SELECT j, vec_id AS cid, sfx AS c FROM sub WHERE vec_id < {k})",
    ]
    for it in range(iters):
        parts.append(f"""d{it} AS (
            SELECT s.vec_id, s.j, s.sfx, c.cid,
                   CAST(list_sum([(s.sfx[i] - c.c[i]) * (s.sfx[i] - c.c[i])
                                  for i in generate_series(1, {dsub})])
                        AS BIGINT) AS d
            FROM sub s JOIN c{it} c ON s.j = c.j
        )""")
        parts.append(f"""a{it} AS (
            SELECT vec_id, j, sfx, cid AS cell
            FROM (SELECT *, row_number() OVER (
                      PARTITION BY vec_id, j ORDER BY d, cid) AS rn
                  FROM d{it})
            WHERE rn = 1
        )""")
        if it == iters - 1:
            break
        parts.append(f"""s{it} AS (
            SELECT j, cell, i,
                   CAST(sum(sfx[i]) AS BIGINT) AS s,
                   count(*) AS cnt
            FROM a{it}, (SELECT unnest(generate_series(1, {dsub})) AS i) ix
            GROUP BY j, cell, i
        )""")
        parts.append(f"""c{it + 1} AS (
            SELECT j, cell AS cid,
                   list((s - (((s % cnt) + cnt) % cnt)) // cnt ORDER BY i) AS c
            FROM s{it}
            GROUP BY j, cell
            UNION ALL
            SELECT c.j, c.cid, c.c FROM c{it} c
            WHERE NOT EXISTS (SELECT 1 FROM a{it} a
                              WHERE a.j = c.j AND a.cell = c.cid)
        )""")
    last_a, last_c = f"a{iters - 1}", f"c{iters - 1}"
    if include_dt:
        parts.append(f"""dt AS (
            SELECT q.vec_id AS query_id, q.j, c.cid,
                   CAST(list_sum([(q.sfx[i] - c.c[i]) * (q.sfx[i] - c.c[i])
                                  for i in generate_series(1, {dsub})])
                        AS BIGINT) AS d
            FROM sub q JOIN {last_c} c ON q.j = c.j
            WHERE q.vec_id < {n_queries}
        )""")
    return parts, last_a


def _pq_adc_oracle(
    m: int, k: int, iters: int, dim: int, n_queries: int, k_top: int
) -> str:
    """pq_train_encode + pq_adc_topk replay (see _pq_cte_parts)."""
    parts, last_a = _pq_cte_parts(m, k, iters, dim, n_queries)
    parts.append(f"""scored AS (
            SELECT t.query_id, a.vec_id AS neighbor_id,
                   CAST(sum(t.d) AS BIGINT) AS approx_sq_dist
            FROM {last_a} a JOIN dt t ON t.j = a.j AND t.cid = a.cell
            WHERE a.vec_id <> t.query_id
            GROUP BY t.query_id, a.vec_id
        )""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT query_id, neighbor_id, approx_sq_dist, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY approx_sq_dist, neighbor_id) AS rank
              FROM scored)
        WHERE rank <= {k_top}
        """
    )


def _ivf_pq_oracle(
    n_cells: int,
    ivf_iters: int,
    nprobe: int,
    m: int,
    k_codes: int,
    pq_iters: int,
    dim: int,
    n_queries: int,
    k_top: int,
) -> str:
    """Composed IVFPQ replay: the trained-IVF cosine assignment
    (prefixed `ivf_` to keep its CTE names disjoint from the PQ
    chain's) restricts the PQ ADC scoring to probed cells — the exact
    composition ivf_pq_topk runs."""
    import re

    from geist_spark.operators.similarity import FX_SCALE

    ivf_parts, _ = _ivf_train_cte_parts(n_cells, ivf_iters, dim)
    # blanket-rename the chain's working identifiers (CTE names AND
    # the fx column, consistently on both definition and reference)
    pat = re.compile(r"\b(fx|sub|c\d+|d\d+|a\d+|s\d+)\b")
    ivf_parts = [pat.sub(lambda mo: "ivf_" + mo.group(1), p) for p in ivf_parts]
    cent_cte = f"ivf_c{ivf_iters - 1}"
    cos = (
        "round(list_dot_product(e.v, c.cv)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    parts = ivf_parts + [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cd AS (
            SELECT cid, [x / {FX_SCALE}.0 for x in c] AS cv FROM {cent_cte}
        )""",
        f"""ranked AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos} DESC, c.cid DESC) AS rn
            FROM e CROSS JOIN cd c
        )""",
        "assign AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1)",
        f"""probes AS (
            SELECT vec_id AS query_id, cid AS cell
            FROM ranked WHERE vec_id < {n_queries} AND rn <= {nprobe}
        )""",
    ]
    pq_parts, pq_last_a = _pq_cte_parts(m, k_codes, pq_iters, dim, n_queries)
    parts += pq_parts
    parts.append(f"""scored AS (
            SELECT t.query_id, a.vec_id AS neighbor_id,
                   CAST(sum(t.d) AS BIGINT) AS approx_sq_dist
            FROM {pq_last_a} a
            JOIN dt t ON t.j = a.j AND t.cid = a.cell
            JOIN assign av ON av.vec_id = a.vec_id
            JOIN probes p ON p.query_id = t.query_id AND p.cell = av.cell
            WHERE a.vec_id <> t.query_id
            GROUP BY t.query_id, a.vec_id
        )""")
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT query_id, neighbor_id, approx_sq_dist, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY approx_sq_dist, neighbor_id) AS rank
              FROM scored)
        WHERE rank <= {k_top}
        """
    )


def _ivf_pq_residual_oracle(
    n_cells: int,
    ivf_iters: int,
    nprobe: int,
    m: int,
    k_codes: int,
    pq_iters: int,
    dim: int,
    n_queries: int,
    k_top: int,
) -> str:
    """Residual-encoding IVFPQ replay (the production FAISS recipe):
    same IVF chain + cosine assignment as _ivf_pq_oracle, but PQ
    trains on RESIDUALS (fx - assigned-cell centroid, exact longs) and
    the ADC tables are per-(query, probed-cell) — the query residual
    depends on which cell is probed. All-long arithmetic throughout."""
    import re

    from geist_spark.operators.similarity import FX_SCALE

    ivf_parts, _ = _ivf_train_cte_parts(n_cells, ivf_iters, dim)
    pat = re.compile(r"\b(fx|sub|c\d+|d\d+|a\d+|s\d+)\b")
    ivf_parts = [pat.sub(lambda mo: "ivf_" + mo.group(1), p) for p in ivf_parts]
    cent_cte = f"ivf_c{ivf_iters - 1}"
    cos = (
        "round(list_dot_product(e.v, c.cv)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    dsub = dim // m
    parts = ivf_parts + [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cd AS (
            SELECT cid, [x / {FX_SCALE}.0 for x in c] AS cv FROM {cent_cte}
        )""",
        f"""ranked AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos} DESC, c.cid DESC) AS rn
            FROM e CROSS JOIN cd c
        )""",
        "assign AS (SELECT vec_id, cid AS cell FROM ranked WHERE rn = 1)",
        f"""probes AS (
            SELECT vec_id AS query_id, cid AS cell
            FROM ranked WHERE vec_id < {n_queries} AND rn <= {nprobe}
        )""",
        # residual = fx - assigned cell's fx centroid (exact longs)
        f"""res AS (
            SELECT f.vec_id,
                   [f.ivf_fx[i] - c.c[i]
                    for i in generate_series(1, {dim})] AS fx
            FROM ivf_fx f
            JOIN assign a ON a.vec_id = f.vec_id
            JOIN {cent_cte} c ON c.cid = a.cell
        )""",
    ]
    pq_parts, pq_last_a = _pq_cte_parts(
        m, k_codes, pq_iters, dim, n_queries,
        fx_select="SELECT vec_id, fx FROM res", include_dt=False,
    )
    parts += pq_parts
    pq_last_c = f"c{pq_iters - 1}"
    parts += [
        # query residual w.r.t. EACH probed cell's centroid
        f"""qres AS (
            SELECT p.query_id, p.cell,
                   [qf.ivf_fx[i] - c.c[i]
                    for i in generate_series(1, {dim})] AS rfx
            FROM probes p
            JOIN ivf_fx qf ON qf.vec_id = p.query_id
            JOIN {cent_cte} c ON c.cid = p.cell
        )""",
        f"""qsub AS (
            SELECT query_id, cell, j,
                   [rfx[i] for i in
                    generate_series(j * {dsub} + 1, (j + 1) * {dsub})] AS sfx
            FROM qres,
                 (SELECT unnest(generate_series(0, {m - 1})) AS j) js
        )""",
        f"""dt AS (
            SELECT q.query_id, q.cell, q.j, c.cid,
                   CAST(list_sum([(q.sfx[i] - c.c[i]) * (q.sfx[i] - c.c[i])
                                  for i in generate_series(1, {dsub})])
                        AS BIGINT) AS d
            FROM qsub q JOIN {pq_last_c} c ON q.j = c.j
        )""",
        f"""scored AS (
            SELECT t.query_id, a.vec_id AS neighbor_id,
                   CAST(sum(t.d) AS BIGINT) AS approx_sq_dist
            FROM {pq_last_a} a
            JOIN assign av ON av.vec_id = a.vec_id
            JOIN dt t ON t.j = a.j AND t.cid = a.cell
                     AND t.cell = av.cell
            WHERE a.vec_id <> t.query_id
            GROUP BY t.query_id, a.vec_id
        )""",
    ]
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT query_id, neighbor_id, approx_sq_dist, CAST(rank AS INT) AS rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY approx_sq_dist, neighbor_id) AS rank
              FROM scored)
        WHERE rank <= {k_top}
        """
    )


def _mmr_oracle(
    query_id: int, k: int, lam_num: int, lam_den: int
) -> str:
    """Unrolled MMR greedy replay: step i scores every unselected
    candidate as lam_num*rel6 - (lam_den-lam_num)*red6 (red6 = max
    micro-scaled cosine to the selected set, exact longs) and keeps
    the argmax (ties -> lowest vec_id) — the same integer chain
    mmr_select runs."""
    mu = lam_den - lam_num

    def cos6(a: str, b: str) -> str:
        return (
            f"CAST(round(round(list_dot_product({a}, {b})"
            f" / (sqrt(list_dot_product({a}, {a}))"
            f" * sqrt(list_dot_product({b}, {b}))), 6)"
            " * 1000000, 0) AS BIGINT)"
        )

    parts = [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"q AS (SELECT v AS qv FROM e WHERE vec_id = {query_id})",
        f"""base AS (
            SELECT e.vec_id, e.v, {cos6('e.v', 'q.qv')} AS rel6
            FROM e, q WHERE e.vec_id <> {query_id}
        )""",
        f"""p1 AS (
            SELECT vec_id, v, rel6, CAST(0 AS BIGINT) AS red6,
                   {lam_num} * rel6 AS score_fx
            FROM (SELECT *, row_number() OVER (
                      ORDER BY {lam_num} * rel6 DESC, vec_id) AS rn
                  FROM base)
            WHERE rn = 1
        )""",
    ]
    for i in range(2, k + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id, v FROM p{j}" for j in range(1, i)
        )
        parts.append(f"sel{i} AS ({sel})")
        parts.append(f"""cand{i} AS (
            SELECT b.vec_id, b.v, b.rel6,
                   (SELECT max({cos6('b.v', 's.v')})
                    FROM sel{i} s) AS red6
            FROM base b
            WHERE b.vec_id NOT IN (SELECT vec_id FROM sel{i})
        )""")
        parts.append(f"""p{i} AS (
            SELECT vec_id, v, rel6, red6,
                   {lam_num} * rel6 - {mu} * red6 AS score_fx
            FROM (SELECT *, row_number() OVER (
                      ORDER BY {lam_num} * rel6 - {mu} * red6 DESC,
                               vec_id) AS rn
                  FROM cand{i})
            WHERE rn = 1
        )""")
    final = " UNION ALL ".join(
        f"SELECT CAST({i} AS INT) AS rank, vec_id, rel6, red6, score_fx"
        f" FROM p{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


def _ivf_train_oracle(k: int, iters: int, dim: int) -> str:
    parts, last = _ivf_train_cte_parts(k, iters, dim)
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT vec_id, cell, sq_dist FROM {last}"
    )


def _ann_ivf_trained_oracle(
    k_cells: int, iters: int, dim: int, nprobe: int, k: int, n_queries: int
) -> str:
    """Train-then-search replay: the k-means CTE chain produces the
    final centroid table, converted back to doubles (exact: fx/2^20),
    then the standard IVF assign/probe/re-rank replay runs against it."""
    from geist_spark.operators.similarity import FX_SCALE

    parts, _ = _ivf_train_cte_parts(k_cells, iters, dim)
    cent_cte = f"c{iters - 1}"
    cos = (
        "round(list_dot_product(e.v, c.cv)"
        " / (sqrt(list_dot_product(e.v, e.v))"
        " * sqrt(list_dot_product(c.cv, c.cv))), 6)"
    )
    parts += [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cd AS (
            SELECT cid, [x / {FX_SCALE}.0 for x in c] AS cv FROM {cent_cte}
        )""",
        f"""ranked AS (
            SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY {cos} DESC, c.cid DESC) AS rn
            FROM e CROSS JOIN cd c
        )""",
        "assign AS (SELECT vec_id, v, cid AS cell FROM ranked WHERE rn = 1)",
        f"""probes AS (
            SELECT vec_id AS query_id, v AS qv, cid AS cell
            FROM ranked WHERE vec_id < {n_queries} AND rn <= {nprobe}
        )""",
        """scored AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   round(list_dot_product(p.qv, a.v)
                         / (sqrt(list_dot_product(p.qv, p.qv))
                            * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine
            FROM probes p JOIN assign a
              ON a.cell = p.cell AND a.vec_id <> p.query_id
        )""",
    ]
    return (
        "WITH " + ",\n".join(parts)
        + f"""
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored)
        WHERE rank <= {k}
        """
    )


def _semantic_dedup_oracle(k: int, iters: int, dim: int, threshold: float) -> str:
    """SemDeDup replay: exact k-means cells + rounded within-cell
    cosines + recursive-CTE connected components (same shape as the
    d_dedup_clusters oracle)."""
    parts, last = _ivf_train_cte_parts(k, iters, dim)
    parts += [
        "e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)",
        f"""cm AS (
            SELECT {last}.vec_id, {last}.cell, e.v
            FROM {last} JOIN e USING (vec_id)
        )""",
        f"""sem_pairs AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM cm a JOIN cm b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6)
                  >= {threshold}
        )""",
        """sem_edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM sem_pairs
            UNION ALL
            SELECT doc_b, doc_a FROM sem_pairs
        )""",
        """reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM sem_edges
            UNION
            SELECT se.dst, reach.r
            FROM reach JOIN sem_edges se ON se.src = reach.doc_id
        )""",
        """labels AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        )""",
    ]
    return (
        "WITH RECURSIVE " + ",\n".join(parts)
        + """
        SELECT e.vec_id,
               coalesce(l.cluster_id, e.vec_id) AS rep,
               coalesce(l.cluster_id, e.vec_id) = e.vec_id AS keep
        FROM e LEFT JOIN labels l ON l.doc_id = e.vec_id
        """
    )


def _media_embed_near_dup_oracle(
    threshold: float, num_planes: int, dim: int
) -> str:
    """Replays multimodal.embed_stub (payload bytes = UTF-8 text, so
    md5(payload) == md5(text); each component is exact n/2^31 - 1)
    then the hyperplane-LSH near-dup bucket join."""
    from geist_spark.operators.similarity import _hyperplane

    comps = ", ".join(
        f"('0x' || substr(md5(md5(text) || '|{i}'), 1, 8))::BIGINT"
        " / 2147483648.0 - 1.0"
        for i in range(dim)
    )
    plane_dots = []
    for p in range(num_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        plane_dots.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0"
            f" THEN {2**p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_dots)
    return f"""
        WITH docs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, text FROM documents
            WHERE doc_id % 10 = 0
        ), e AS (
            SELECT doc_id AS vec_id, [{comps}] AS v FROM docs
        ), bucketed AS (
            SELECT vec_id, v, {bucket} AS bucket FROM e
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
    """


def _lsh_tuning_oracle(min_planes: int, max_planes: int, dim: int) -> str:
    """Replays lsh_tuning_curve: sign bits per plane, coarse-bucket
    pair join, agreement-depth histogram, cumulative counts."""
    from geist_spark.operators.similarity import _hyperplane

    bit_exprs = []
    for p in range(max_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        bit_exprs.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0"
            f" THEN 1 ELSE 0 END) AS b{p}"
        )
    coarse_cond = " AND ".join(
        f"a.b{i} = b.b{i}" for i in range(min_planes)
    )
    # depth = min_planes + agree(min) + agree(min..min+1) + ...
    depth = str(min_planes)
    prefix_conds = []
    for i in range(min_planes, max_planes):
        prefix_conds.append(f"a.b{i} = b.b{i}")
        cond = " AND ".join(prefix_conds)
        depth += f" + (CASE WHEN {cond} THEN 1 ELSE 0 END)"
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), bits AS (
            SELECT vec_id, {', '.join(bit_exprs)} FROM e
        ), pairs AS (
            SELECT ({depth}) AS agree_depth
            FROM bits a JOIN bits b
              ON {coarse_cond} AND a.vec_id < b.vec_id
        ), hist AS (
            SELECT agree_depth, count(*) AS n FROM pairs GROUP BY agree_depth
        )
        SELECT agree_depth AS planes,
               CAST(sum(n) OVER (ORDER BY agree_depth DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS n_candidate_pairs
        FROM hist
    """


def _hard_negatives_oracle(
    num_planes: int,
    dim: int,
    k: int,
    n_queries: int,
    threshold: float,
    overfetch: int,
) -> str:
    """Replays hard_negative_mining over the duplicate-injected
    embedding set: LSH candidates (rank <= k*overfetch), near-dup
    pairs at `threshold`, recursive-CTE clusters, exclusion, re-rank."""
    from geist_spark.operators.similarity import _hyperplane

    plane_dots = []
    for p in range(num_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        plane_dots.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0"
            f" THEN {2**p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_dots)
    cos = (
        "round(list_dot_product(q.v, c.v)"
        " / (sqrt(list_dot_product(q.v, q.v))"
        " * sqrt(list_dot_product(c.v, c.v))), 6)"
    )
    return f"""
        WITH RECURSIVE e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            UNION ALL
            SELECT vec_id + 100000, embedding::DOUBLE[] FROM embeddings
            WHERE vec_id % 10 = 0
        ), bucketed AS (
            SELECT vec_id, v, {bucket} AS bucket FROM e
        ), cand AS (
            SELECT query_id, neighbor_id, cosine
            FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       {cos} AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY {cos} DESC, c.vec_id) AS rank
                FROM bucketed q JOIN bucketed c
                  ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
                WHERE q.vec_id < {n_queries}
            ) WHERE rank <= {k * overfetch}
        ), nd AS (
            SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
            FROM bucketed a JOIN bucketed b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE round(list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v))
                     * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
        ), edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM nd
            UNION ALL SELECT doc_b, doc_a FROM nd
        ), reach(doc_id, r) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT ed.dst, reach.r FROM reach
            JOIN edges ed ON ed.src = reach.doc_id
        ), labels AS (
            SELECT doc_id, min(r) AS cluster_id FROM reach GROUP BY doc_id
        ), kept AS (
            SELECT c.query_id, c.neighbor_id, c.cosine
            FROM cand c
            LEFT JOIN labels la ON la.doc_id = c.query_id
            LEFT JOIN labels lb ON lb.doc_id = c.neighbor_id
            WHERE la.cluster_id IS NULL OR lb.cluster_id IS NULL
               OR la.cluster_id <> lb.cluster_id
        )
        SELECT query_id, neighbor_id, cosine, CAST(rn AS INT) AS hn_rank
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS rn FROM kept)
        WHERE rn <= {k}
    """


def _cross_leakage_oracle(
    threshold: float, num_planes: int, dim: int, eval_max: int
) -> str:
    """DuckDB replay of similarity.cross_corpus_leakage: same
    hyperplane signatures on both slices, bucket equi-join, exact
    cosine confirm."""
    from geist_spark.operators.similarity import _hyperplane

    plane_dots = []
    for p in range(num_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        plane_dots.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN {2**p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_dots)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), bucketed AS (
            SELECT vec_id, v, {bucket} AS bucket FROM e
        )
        SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
               round(list_dot_product(tr.v, ev.v)
                     / (sqrt(list_dot_product(tr.v, tr.v))
                        * sqrt(list_dot_product(ev.v, ev.v))), 6) AS cosine
        FROM bucketed tr JOIN bucketed ev
          ON tr.bucket = ev.bucket
        WHERE tr.vec_id >= {eval_max} AND ev.vec_id < {eval_max}
          AND round(list_dot_product(tr.v, ev.v)
              / (sqrt(list_dot_product(tr.v, tr.v))
                 * sqrt(list_dot_product(ev.v, ev.v))), 6) >= {threshold}
    """


def _incremental_embed_oracle(
    threshold: float, num_planes: int, dim: int
) -> str:
    """DuckDB replay of s_incremental_embed: the same md5-hyperplane
    sign buckets on BOTH slices (similarity._bucket_signature), batch
    slice (vec_id % 5 = 0) equi-joined to the corpus-index slice
    (vec_id % 5 != 0) on the bucket id, exact cosine confirm."""
    from geist_spark.operators.similarity import _hyperplane

    plane_dots = []
    for p in range(num_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        plane_dots.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN {2**p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_dots)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), bucketed AS (
            SELECT vec_id, v, {bucket} AS bucket FROM e
        )
        SELECT n.vec_id AS new_vec_id, c.vec_id AS corpus_vec_id,
               round(list_dot_product(n.v, c.v)
                     / (sqrt(list_dot_product(n.v, n.v))
                        * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
        FROM bucketed n JOIN bucketed c
          ON n.bucket = c.bucket
        WHERE n.vec_id % 5 = 0 AND c.vec_id % 5 != 0
          AND round(list_dot_product(n.v, c.v)
              / (sqrt(list_dot_product(n.v, n.v))
                 * sqrt(list_dot_product(c.v, c.v))), 6) >= {threshold}
    """


def _near_dup_oracle(threshold: float, num_planes: int, dim: int) -> str:
    from geist_spark.operators.similarity import _hyperplane

    plane_dots = []
    for p in range(num_planes):
        lits = ", ".join(repr(v) for v in _hyperplane(dim, p))
        plane_dots.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN {2**p} ELSE 0 END)"
        )
    bucket = " + ".join(plane_dots)
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), bucketed AS (
            SELECT vec_id, v, {bucket} AS bucket FROM e
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        FROM bucketed a JOIN bucketed b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v))
                 * sqrt(list_dot_product(b.v, b.v))), 6) >= {threshold}
    """


if __name__ == "__main__":
    from geist_spark.session import get_spark

    s = get_spark("entry_smoke")
    df = entry(s)
    df.show()
    print("rows:", df.count())
