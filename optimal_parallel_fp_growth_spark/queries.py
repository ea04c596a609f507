"""Query registry — the driver contract surface.

Each entry pairs a PySpark implementation (callable ``(spark, sf_dir) →
DataFrame``) with an equivalent ANSI-SQL oracle DuckDB runs on the same
parquet tables. Column names/aliases match exactly on both sides; array
-valued outputs are canonicalized to '|'-joined sorted strings so the
hash comparison is representation-independent (FIXTURES.md F5).

Mining parameters are calibrated to the testdata (see FIXTURES.md):
- events user-day baskets: 5-item alphabet; support ~0.40/0.14/0.05/0.02
  for k=1/2/3/4 ⇒ ``minSupport=0.03`` keeps exactly k ≤ 3 with wide
  margins; the oracle still enumerates k ≤ 4 so a boundary drift would be
  caught, and the Spark side filters ``size(items) <= 4`` symmetrically.
- lineitem baskets are sparse (max item support ~0.003) ⇒ singleton
  counting at ``minSupport=0.002``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from optimal_parallel_fp_growth_spark.operators.fpgrowth import FPGrowth
from optimal_parallel_fp_growth_spark.operators.itemcount import freq_items, word_count
from optimal_parallel_fp_growth_spark.plans.transactions import (
    transactions_from_documents,
    transactions_from_events,
    transactions_from_lineitem,
)
from optimal_parallel_fp_growth_spark.sources.catalog import load_table

# ---------------------------------------------------------------------------
# mining params (single source of truth for query + oracle)
EVENTS_MIN_SUPPORT = 0.03
EVENTS_MIN_CONFIDENCE = 0.2
LINEITEM_MIN_SUPPORT = 0.002


def _events_model(spark: SparkSession, sf_dir: str):
    tx = transactions_from_events(spark, sf_dir)
    return tx, FPGrowth(
        min_support=EVENTS_MIN_SUPPORT, min_confidence=EVENTS_MIN_CONFIDENCE
    ).fit(tx)


# ---------------------------------------------------------------------------
# Spark-side queries


def q_count_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_rows op (epfp/FPGrowthCore.scala:53-54): N baskets."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(F.countDistinct("l_orderkey").alias("n"))


def q_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """freq_items / word-count-with-HAVING op over lineitem baskets."""
    tx = transactions_from_lineitem(spark, sf_dir)
    return freq_items(tx, min_support=LINEITEM_MIN_SUPPORT)


def q_tokenize_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tokenize_distinct op (epfp/EPFP.scala:26) over documents.text."""
    tx = transactions_from_documents(spark, sf_dir)
    return tx.select("doc_id", F.explode("items").alias("item"))


def q_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordCountDemo parity (WordCountDemo.scala:26-28)."""
    return word_count(load_table(spark, sf_dir, "documents"))


def q_freq_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP-Growth frequent itemsets on events baskets (epfp/FPGrowth.scala:55-80)."""
    _, model = _events_model(spark, sf_dir)
    return (
        model.freq_itemsets.where(F.size("items") <= 4)
        .select(F.array_join("items", "|").alias("itemset"), "freq")
    )


def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules (epfp/AssociationRules.scala:58-82)."""
    _, model = _events_model(spark, sf_dir)
    rules = model.association_rules(EVENTS_MIN_CONFIDENCE)
    return rules.select(
        F.array_join("antecedent", "|").alias("antecedent"),
        F.element_at("consequent", 1).alias("consequent"),
        "confidence",
        "lift",
        "support",
    )


def q_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prediction over the training baskets (epfp/FPGrowth.scala:123-150)."""
    tx, model = _events_model(spark, sf_dir)
    out = model.transform(tx, min_confidence=EVENTS_MIN_CONFIDENCE, keep_array=False)
    return out.select(
        "user_id", F.col("day").cast("long").alias("day_epoch"), "prediction"
    )


def q_transform_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's demo self-recommendation overload
    (pfp/FPGrowth.scala:124-148): predict over the distinct antecedents
    of the mined rules themselves."""
    _, model = _events_model(spark, sf_dir)
    out = model.transform_self(min_confidence=EVENTS_MIN_CONFIDENCE, keep_array=False)
    return out.select(F.array_join("items", "|").alias("items"), "prediction")


def q_freq_itemsets_pfp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same mining through the self-contained pandas PFP kernel with EPFP
    balanced grouping (epfp/FPGrowthCore.scala:49-114) — checked against
    the identical SQL oracle as the MLlib path."""
    tx = transactions_from_events(spark, sf_dir)
    model = FPGrowth(
        min_support=EVENTS_MIN_SUPPORT, kernel="pandas", num_partitions=8
    ).fit(tx)
    return (
        model.freq_itemsets.where(F.size("items") <= 4)
        .select(F.array_join("items", "|").alias("itemset"), "freq")
    )


DOCS_MIN_SUPPORT = 0.6


def q_freq_itemsets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped corpus mining: the reference's mains tokenize a
    text corpus into word baskets and fit (epfp/EPFP.scala:23-27); same
    pipeline over documents.text. At minSupport=0.6 the testdata lattice
    terminates naturally at k=2 (no frequent triple), so the output is
    the COMPLETE itemset family while the oracle enumerates k ≤ 3 to
    catch any boundary drift."""
    tx = transactions_from_documents(spark, sf_dir)
    model = FPGrowth(min_support=DOCS_MIN_SUPPORT).fit(tx)
    return model.freq_itemsets.select(
        F.array_join("items", "|").alias("itemset"), "freq"
    )


def q_freq_itemsets_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mining: the full PFP pipeline run INDEPENDENTLY per
    language corpus in one pass (operators/pfp_kernel.py::mine_pandas_by)
    — per-corpus thresholds ceil(minSupport·|corpus|), per-corpus rank
    dictionaries, every shuffle keyed by (corpus, group). The testdata's
    per-lang lattices extend past k=3, so both sides enumerate k ≤ 3;
    cross-kernel completeness of the full family is covered by
    tests/test_pfp_kernel.py."""
    from optimal_parallel_fp_growth_spark.operators.pfp_kernel import mine_pandas_by
    from optimal_parallel_fp_growth_spark.plans.transactions import (
        transactions_from_documents_by_lang,
    )

    tx = transactions_from_documents_by_lang(spark, sf_dir)
    out = mine_pandas_by(tx, "lang", min_support=DOCS_MIN_SUPPORT, num_partitions=8)
    return (
        out.where(F.size("items") <= 3)
        .select(
            "lang",
            F.array_join(F.sort_array("items"), "|").alias("itemset"),
            "freq",
        )
    )


def q_apriori_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori 1⇒1 rules with the reference's floor threshold and
    confidence/rawCount quirk metric (apriori/Apriori.scala:73,125)."""
    from optimal_parallel_fp_growth_spark.operators.apriori import (
        apriori_one_to_one_rules,
    )

    tx = transactions_from_events(spark, sf_dir)
    return apriori_one_to_one_rules(tx, min_support=0.1, min_confidence=0.2)


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic relational surface: multi-way join (dims broadcast) +
    grouped sum + sort — the operator classes the reference lacks
    (SURVEY §2.4 '(absent)')."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .orderBy(F.desc("revenue"))
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k with deterministic tiebreak + broadcast dim join."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("o_orderkey", "c_name", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# DuckDB oracles

_EVENTS_FIS_CTE = f"""
WITH tx AS (SELECT user_id, date_trunc('day', ts) AS day,
                   list_sort(list_distinct(list(event_type))) AS items
            FROM events GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM tx),
p AS (SELECT user_id, day, unnest(items) AS item FROM tx),
k1 AS (SELECT [item] AS items, count(*) AS freq FROM p GROUP BY 1),
k2 AS (SELECT [a.item, b.item] AS items, count(*) AS freq
       FROM p a JOIN p b ON a.user_id=b.user_id AND a.day=b.day AND a.item<b.item GROUP BY 1),
k3 AS (SELECT [a.item, b.item, c.item] AS items, count(*) AS freq
       FROM p a JOIN p b ON a.user_id=b.user_id AND a.day=b.day AND a.item<b.item
                 JOIN p c ON b.user_id=c.user_id AND b.day=c.day AND b.item<c.item GROUP BY 1),
k4 AS (SELECT [a.item, b.item, c.item, d.item] AS items, count(*) AS freq
       FROM p a JOIN p b ON a.user_id=b.user_id AND a.day=b.day AND a.item<b.item
                 JOIN p c ON b.user_id=c.user_id AND b.day=c.day AND b.item<c.item
                 JOIN p d ON c.user_id=d.user_id AND c.day=d.day AND c.item<d.item GROUP BY 1),
fis AS (SELECT items, freq
        FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2
              UNION ALL SELECT * FROM k3 UNION ALL SELECT * FROM k4)
        WHERE freq >= CEIL({EVENTS_MIN_SUPPORT} * (SELECT n FROM n)))
"""

_EVENTS_RULES_CTE = _EVENTS_FIS_CTE + f""",
cand AS (SELECT list_sort(list_filter(items, x -> x <> item)) AS ante,
                item AS cons, freq AS freq_union
         FROM (SELECT items, freq, unnest(items) AS item FROM fis WHERE len(items) >= 2)),
joined AS (SELECT c.ante, c.cons, c.freq_union, f.freq AS freq_antecedent
           FROM cand c JOIN fis f ON c.ante = f.items),
singles AS (SELECT items[1] AS cons, freq::DOUBLE / (SELECT n FROM n) AS supp_c
            FROM fis WHERE len(items) = 1),
rules AS (SELECT j.ante, j.cons,
                 j.freq_union::DOUBLE / j.freq_antecedent AS confidence,
                 j.freq_union::DOUBLE / j.freq_antecedent / s.supp_c AS lift,
                 j.freq_union::DOUBLE / (SELECT n FROM n) AS support
          FROM joined j LEFT JOIN singles s ON j.cons = s.cons
          WHERE j.freq_union::DOUBLE / j.freq_antecedent >= {EVENTS_MIN_CONFIDENCE})
"""

_DOCS_FIS_SQL = f"""
WITH t AS (SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS toks
           FROM documents),
n AS (SELECT count(*) AS n FROM t),
p AS (SELECT doc_id, unnest(toks) AS item FROM t),
k1 AS (SELECT [item] AS items, count(*) AS freq FROM p GROUP BY 1),
k2 AS (SELECT [a.item, b.item] AS items, count(*) AS freq
       FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.item < b.item GROUP BY 1),
k3 AS (SELECT [a.item, b.item, c.item] AS items, count(*) AS freq
       FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.item < b.item
                 JOIN p c ON b.doc_id = c.doc_id AND b.item < c.item GROUP BY 1)
SELECT array_to_string(items, '|') AS itemset, freq
FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3)
WHERE freq >= CEIL({DOCS_MIN_SUPPORT} * (SELECT n FROM n))
"""

_DOCS_FIS_BY_LANG_SQL = f"""
WITH t AS (SELECT doc_id, lang, list_sort(list_distinct(string_split(text, ' '))) AS toks
           FROM documents),
n AS (SELECT lang, count(*) AS n FROM t GROUP BY 1),
p AS (SELECT doc_id, lang, unnest(toks) AS item FROM t),
k1 AS (SELECT lang, [item] AS items, count(*) AS freq FROM p GROUP BY 1, 2),
k2 AS (SELECT a.lang, [a.item, b.item] AS items, count(*) AS freq
       FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.item < b.item GROUP BY 1, 2),
k3 AS (SELECT a.lang, [a.item, b.item, c.item] AS items, count(*) AS freq
       FROM p a JOIN p b ON a.doc_id = b.doc_id AND a.item < b.item
                 JOIN p c ON b.doc_id = c.doc_id AND b.item < c.item GROUP BY 1, 2)
SELECT u.lang, array_to_string(items, '|') AS itemset, freq
FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3) u
JOIN n ON u.lang = n.lang
WHERE freq >= CEIL({DOCS_MIN_SUPPORT} * n.n)
"""

ORACLES: dict[str, str] = {
    "freq_itemsets_docs": _DOCS_FIS_SQL,
    "freq_itemsets_by_lang": _DOCS_FIS_BY_LANG_SQL,
    "count_rows": "SELECT COUNT(*) AS n FROM (SELECT DISTINCT l_orderkey FROM lineitem)",
    "freq_items": f"""
WITH p AS (SELECT DISTINCT l_orderkey, CAST(l_partkey AS VARCHAR) AS item FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem)
SELECT item, COUNT(*) AS freq FROM p GROUP BY item
HAVING COUNT(*) >= CEIL({LINEITEM_MIN_SUPPORT} * (SELECT n FROM n))
""",
    "tokenize_distinct": """
SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS item FROM documents
""",
    "word_count": """
SELECT w AS word, COUNT(*) AS cnt
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY 1
""",
    "freq_itemsets": _EVENTS_FIS_CTE
    + "SELECT array_to_string(items, '|') AS itemset, freq FROM fis",
    "freq_itemsets_pfp": _EVENTS_FIS_CTE
    + "SELECT array_to_string(items, '|') AS itemset, freq FROM fis",
    "apriori_rules": """
WITH tx AS (SELECT user_id, date_trunc('day', ts) AS day,
                   list_sort(list_distinct(list(event_type))) AS items
            FROM events GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM tx),
p AS (SELECT user_id, day, unnest(items) AS item FROM tx),
singles AS (SELECT item, count(*) AS freq FROM p GROUP BY 1
            HAVING count(*) >= FLOOR(0.1 * (SELECT n FROM n))),
pairs AS (SELECT a.item AS ia, b.item AS ib, count(*) AS freq_pair
          FROM p a JOIN p b ON a.user_id = b.user_id AND a.day = b.day AND a.item < b.item
          GROUP BY 1, 2 HAVING count(*) >= FLOOR(0.1 * (SELECT n FROM n))),
directed AS (SELECT ia AS antecedent, ib AS consequent, freq_pair FROM pairs
             UNION ALL
             SELECT ib AS antecedent, ia AS consequent, freq_pair FROM pairs)
SELECT d.antecedent, d.consequent,
       d.freq_pair::DOUBLE / sa.freq AS confidence,
       d.freq_pair::DOUBLE / sa.freq / sc.freq AS score
FROM directed d
JOIN singles sa ON d.antecedent = sa.item
JOIN singles sc ON d.consequent = sc.item
WHERE d.freq_pair::DOUBLE / sa.freq >= 0.2
""",
    "revenue_by_nation": """
SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
    "top_orders": """
SELECT o_orderkey, c_name, o_totalprice
FROM (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10) o
JOIN customer ON o_custkey = c_custkey
""",
    "assoc_rules": _EVENTS_RULES_CTE
    + """
SELECT array_to_string(ante, '|') AS antecedent, cons AS consequent,
       confidence, lift, support
FROM rules""",
    "transform": _EVENTS_RULES_CTE
    + """,
matched AS (SELECT t.user_id, t.day, r.cons, max(r.lift) AS lift
            FROM tx t JOIN rules r
              ON list_has_all(t.items, r.ante) AND NOT list_contains(t.items, r.cons)
            GROUP BY 1, 2, 3),
preds AS (SELECT user_id, day,
                 string_agg(cons, ', ' ORDER BY lift DESC, cons) AS prediction
          FROM matched GROUP BY 1, 2)
SELECT t.user_id, CAST(epoch(t.day) AS BIGINT) AS day_epoch,
       COALESCE(p.prediction, '') AS prediction
FROM tx t LEFT JOIN preds p ON t.user_id = p.user_id AND t.day = p.day""",
    "transform_self": _EVENTS_RULES_CTE
    + """,
baskets AS (SELECT DISTINCT ante AS items FROM rules),
matched AS (SELECT b.items, r.cons, max(r.lift) AS lift
            FROM baskets b JOIN rules r
              ON list_has_all(b.items, r.ante) AND NOT list_contains(b.items, r.cons)
            GROUP BY 1, 2),
preds AS (SELECT items, string_agg(cons, ', ' ORDER BY lift DESC, cons) AS prediction
          FROM matched GROUP BY 1)
SELECT array_to_string(b.items, '|') AS items,
       COALESCE(p.prediction, '') AS prediction
FROM baskets b LEFT JOIN preds p ON b.items = p.items""",
}

from optimal_parallel_fp_growth_spark.queries_docs import DOC_ORACLES, DOC_QUERIES
from optimal_parallel_fp_growth_spark.queries_vectors import VEC_ORACLES, VEC_QUERIES

from optimal_parallel_fp_growth_spark.queries_events import (
    EVENT_ORACLES,
    EVENT_QUERIES,
)

from optimal_parallel_fp_growth_spark.queries_multimodal import (
    MM_ORACLES,
    MM_QUERIES,
)

from optimal_parallel_fp_growth_spark.queries_relational import (
    REL_ORACLES,
    REL_QUERIES,
)

ORACLES.update(DOC_ORACLES)
ORACLES.update(VEC_ORACLES)
ORACLES.update(EVENT_ORACLES)
ORACLES.update(MM_ORACLES)
ORACLES.update(REL_ORACLES)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "count_rows": q_count_rows,
    "freq_items": q_freq_items,
    "tokenize_distinct": q_tokenize_distinct,
    "word_count": q_word_count,
    "freq_itemsets": q_freq_itemsets,
    "freq_itemsets_pfp": q_freq_itemsets_pfp,
    "freq_itemsets_docs": q_freq_itemsets_docs,
    "freq_itemsets_by_lang": q_freq_itemsets_by_lang,
    "assoc_rules": q_assoc_rules,
    "transform": q_transform,
    "transform_self": q_transform_self,
    "apriori_rules": q_apriori_rules,
    "revenue_by_nation": q_revenue_by_nation,
    "top_orders": q_top_orders,
}
QUERIES.update(DOC_QUERIES)
QUERIES.update(VEC_QUERIES)
QUERIES.update(EVENT_QUERIES)
QUERIES.update(MM_QUERIES)
QUERIES.update(REL_QUERIES)

# ---------------------------------------------------------------------------
# Driver sampling order. The correctness harness samples the registry in
# insertion order with a bounded per-round window (exactly 50 rows since
# r4), so entries whose last green driver row is OLDEST must come FIRST —
# the rotation contract that bounds staleness. Round-17 tiers (staleness
# computed from CORRECTNESS_r{01..16}.json; the invariant is enforced
# data-driven by tests/test_registry_order.py):
# The r16 driver window went 50/50 green and covered the ENTIRE active
# set, so every active entry's latest green is r16 — all 24 survivors
# tie at staleness 1 and the tie-break is GREEN-HISTORY THINNESS
# (fewest distinct green rounds first), which maximizes retirement
# throughput:
#   1. the 7 single-green entries (r16 only): the 4 mid-r15 additions
#      that led the r16 window, then the 3 mid-r16 additions.
#   2. the 17 two-green entries (r13/r14/r15 + r16) — one more green
#      row retires each of them at the r18 rotation.
# After the r17 retirement wave (14 entries newly at ≥3 distinct green
# driver rounds once CORRECTNESS_r16 landed; 125 → 139 retired) the
# ACTIVE set is 24 entries, ALL pinned — the whole active registry
# fits in one 50-slot window with 26 slots of slack for mid-r17
# additions.
# Rotation-capacity ceiling (VERDICT r13 task #2): the EDF simulation
# in tests/test_registry_order.py::test_rotation_capacity_is_sustainable
# replays history forward with 8 pinned additions/round and must stay
# feasible through r23. The mechanism: an entry RETIRES from driver
# rotation when it is BOTH (a) pinned — a full-semantics independent
# recomputation (TWINS differential or GROUND_TRUTH_PINS brute-force)
# runs in every pytest — and (b) driver-validated in ≥3 distinct
# rounds. Retired entries KEEP their queries()/oracle_sql()
# registration (the judge's full sweep still covers all of them); they
# only stop consuming driver-window slots.
# Python dicts preserve insertion order, so rebuilding the dict IS the
# sampling contract. tests/test_registry_order.py checks this list.

# Entries retired from driver rotation (criteria asserted data-driven
# in tests/test_registry_order.py::test_retired_entries_meet_criteria:
# pinned + ≥3 distinct green driver rounds each).
RETIRED_TO_PYTEST: frozenset[str] = frozenset({
    # --- retired at the r17 rotation (14 entries newly at ≥3 greens
    # after CORRECTNESS_r16 landed — the r16 window sampled the whole
    # active set, so every 2-green survivor of the r16 wave crossed
    # the threshold) ---
    "compacted_layout_read",
    "dedup_zipf_prefix",
    "hive_layout_read",
    "incremental_agg",
    "incremental_index",
    "index_search",
    "materialized_view",
    "mor_delete_read",
    "multimodal_gif",
    "multimodal_video",
    "skewed_doc_hotness",
    "skewed_token_counts",
    "versioned_changes",
    "versioned_stream_follow",
    # --- retired at the r16 rotation (50 entries newly at ≥3 greens
    # after CORRECTNESS_r15 landed — the r15 pin-throughput batches
    # made the doc/vector/event/lifecycle tiers eligible) ---
    "brand_discount_revenue",
    "chunk_documents",
    "corpus_split",
    "curate_corpus",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "deduped_corpus_cc",
    "doc_fingerprint",
    "events_asof_join",
    "events_daily_rollup",
    "events_hopping",
    "events_hourly_cube",
    "events_json_props",
    "events_retention",
    "events_rolling",
    "freq_itemsets_docs",
    "gopher_rules",
    "hard_negatives",
    "html_extract",
    "important_parts",
    "kmeans_auto",
    "kmeans_clusters",
    "knn_ann",
    "knn_ivf",
    "label_centroids",
    "lang_id",
    "lm_perplexity",
    "local_supplier_revenue",
    "min_cost_part_supplier",
    "multimodal_audio",
    "multimodal_flac",
    "multimodal_frames",
    "multimodal_jpeg",
    "multimodal_pixels",
    "negative_pairs",
    "pack_sequences",
    "pii_stats",
    "recent_concentration_suppliers",
    "repeated_spans",
    "repetition_signals",
    "returnflag_priority_lines",
    "semdedup",
    "semdedup_auto",
    "small_qty_revenue",
    "source_ngram_overlap",
    "supplier_pagerank",
    "supplier_variety",
    "versioned_merge",
    "versioned_read",
    "zorder_layout_read",
    # --- retired at the r15 rotation ---
    "apriori_rules",
    "count_rows",
    "customer_order_counts",
    "customers_no_big_orders",
    "events_top_users",
    "events_user_quartiles",
    "forecast_revenue",
    "freq_items",
    "freq_itemsets",
    "idle_rich_customers",
    "large_orders",
    "late_order_priorities",
    "nation_revenue_share",
    "nation_trade_volume",
    "order_priority_stats",
    "pricing_summary",
    "product_line_revenue",
    "promo_revenue_share",
    "returned_item_report",
    "revenue_by_nation",
    "segment_part_overlap",
    "shipping_priority",
    "sole_late_suppliers",
    "tokenize_distinct",
    "top_orders",
    "top_supplier",
    "top_suppliers_per_nation",
    "word_count",
    # --- retired at the r14 rotation ---
    "assoc_rules",
    "bloom_decontaminate",
    "bloom_user_filter",
    "decontaminate",
    "dedup_clusters",
    "dedup_exact",
    "dedup_incremental",
    "dedup_lines",
    "dedup_ngram_exact",
    "dedup_ngram_jaccard",
    "dedup_ngram_prefix",
    "deduped_corpus",
    "dq_documents",
    "dq_events",
    "embedding_neardup",
    "events_distinct_sketch",
    "events_funnel",
    "events_interval_join",
    "events_pivot",
    "events_resample",
    "events_sessionize",
    "events_unpivot",
    "events_windowed_counts",
    "freq_itemsets_by_lang",
    "freq_itemsets_pfp",
    "inverted_index",
    "kmeans_arrow",
    "knn_cosine",
    "knn_hyperplane",
    "knn_ivf_index",
    "mix_sources",
    "mix_temperature",
    "multimodal_decode",
    "multimodal_features",
    "ngram_counts",
    "quality_classifier",
    "quality_score",
    "random_projection",
    "semdedup_arrow",
    "stratified_sample",
    "supplier_pagerank_bucketed",
    "text_stats",
    "tfidf_top_terms",
    "token_quantiles",
    "transform",
    "transform_self",
    "weighted_sample",
})

_DRIVER_PRIORITY: list[str] = [
    # ---- r17 window (24 active — the whole active set fits; every
    # entry's latest green is r16, so staleness ties at 1 and the
    # tie-break is green-history thinness: fewest distinct green
    # driver rounds first, maximizing retirement throughput) ----
    # tier 1 — single-green (r16 only): the 4 mid-r15 additions that
    # led the r16 window, then the 3 mid-r16 additions
    "versioned_stream_ingest",
    "spec_evolved_read",
    "dedup_spans",
    "bloom_table_read",
    "versioned_txn_dml",
    "bloom_evolved_read",
    "replace_where_read",
    # tier 2 — two-green (r13/r14/r15 + r16): one more green row
    # retires each at the r18 rotation (historical order kept)
    "clustered_table_read",
    "versioned_update",
    "stats_pushdown",
    "versioned_range_read",
    "zorder_table_read",
    "pii_redact",
    "bucketed_table_merge",
    "normalize_text",
    "merge_update_cols",
    "bucketed_sorted_read",
    "events_first_touch",
    "events_quantile_sketch",
    "heavy_hitters_tokens",
    "purge_deletes",
    "partial_compact",
    "schema_evolution_read",
    "embedding_quantize",
    # ---- mid-r17 additions (NEW_THIS_ROUND) slot here, before the
    # retired tier ----
    "versioned_date_bloom_read",
    # ---- retired tier (139) — never sampled again; pytest pins +
    # the judge's full oracle sweep carry their correctness ----
    *sorted(RETIRED_TO_PYTEST),
]


def _prioritize(d: dict) -> dict:
    head = {k: d[k] for k in _DRIVER_PRIORITY if k in d}
    head.update({k: v for k, v in d.items() if k not in head})
    return head


QUERIES = _prioritize(QUERIES)
ORACLES = {k: ORACLES[k] for k in QUERIES}
