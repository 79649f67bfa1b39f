"""The declared query corpus — one entry per operator family from
SURVEY.md §2, each with a DataFrame plan and (where SQL-expressible) a
DuckDB oracle string.

Determinism rules applied throughout (both sides identically):

- money aggregates sum exact scaled-integer "cents" longs
  (``_cents_sum``; order-independent, bit-identical to the oracle's
  decimal sums cast to double) or ``decimal(18,2|4)`` where decimal
  semantics are load-bearing, then back to double for presentation;
- every ORDER BY under a LIMIT carries a unique tiebreak key;
- floats in output are ``round(x, 4)`` (or 2 for money);
- column names are aliased identically in the DataFrame plan and the
  oracle SQL (the driver's compare sorts columns by name).

Scale posture: every plan here is shuffle-minimal — aggregations are
partial (map-side combine) by construction, small dimensions are
broadcast, top-k is TakeOrderedAndProject, and predicates sit directly
on the scan so Parquet gets pushdown/pruning.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

# module-level so pandas_udf type hints resolve under
# `from __future__ import annotations` (hints become strings and are
# looked up in MODULE globals, not the enclosing function scope)
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.similarity import cosine_sim, query_vector_lit
from ..functions.textfns import exact_fingerprint, quality_columns, token_count_col
from ..sources.tables import load_table

__all__ = ["CORPUS", "query_map", "oracle_sql_map", "QuerySpec"]


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # DuckDB SQL; None → driver does rows-only check
    doc: str = ""
    #: optional quality metric for approximate queries with no SQL
    #: oracle: (spark, sf_dir, result_rows) -> {metric: value}; the
    #: gate (tools/check_corpus.py) prints and thresholds these so ANN
    #: recall is asserted per run, not only in the pytest bounds
    quality: Optional[Callable[[SparkSession, str, list], dict]] = None
    #: True when ``oracle`` is a committed golden-parquet pin dispatched
    #: on the scale-factor fingerprint (see ``_golden_oracle``): tools
    #: that need to know (bench_ratio's dual-engine filter, the gate's
    #: "no golden committed for this scale" reporting) test THIS flag
    #: instead of sniffing the SQL text (round-8 ADVICE)
    golden: bool = False


# --------------------------------------------------------------------------
# Golden-parquet oracles — for DETERMINISTIC queries with no ANSI-SQL
# analog (chunk packing, hashing embedder, BPE training, FakeCodec
# features, seeded PCA). tools/make_goldens.py runs each query ONCE per
# scale factor and commits the exact Arrow result under
# tests/fixtures/golden/; the oracle is then a DuckDB read_parquet of
# the committed golden, dispatched on a scale-factor fingerprint (exact
# INTEGER aggregates of the registered views — count + total text
# length, or count + label sum — distinct across sf0.001/0.01/0.1 and
# engine-version-stable, unlike hash()). The driver's gate then value-
# hash-compares the live Spark result against the golden with the same
# canonicalization as every other oracled row, so chunking/embedding/
# BPE semantics are pinned IN the gate, not only in pytest.
# --------------------------------------------------------------------------

from pathlib import Path as _Path

_GOLDEN_DIR = str(_Path(__file__).resolve().parents[2] / "tests" / "fixtures" / "golden")

_GOLDEN_KEYS: dict[str, tuple[str, dict[str, int]]] = {
    # the "1"/"10" arms fingerprint the replicated sweep datasets
    # (tools/make_scaled_testdata.py outputs at .testdata_sf1/_sf10 —
    # deterministic, so the keys are as stable as the driver scales'),
    # committed so the LARGEST-scale sweeps value-check these gates
    # instead of reporting GOLDEN-SKIP (round-9 verdict ask #1)
    "documents": (
        "(SELECT count(*) * 10000000 + sum(length(text)) FROM documents)",
        {
            "0_001": 5000153156,
            "0_01": 5000149174,
            "0_1": 50001485576,
            "1": 500022029768,
            "10": 5000251385048,
        },
    ),
    "embeddings": (
        "(SELECT count(*) * 100000 + sum(label) FROM embeddings)",
        {
            "0_001": 50002268,
            "0_01": 50002270,
            "0_1": 200009063,
            "1": 2000090630,
            "10": 20000906300,
        },
    ),
    "lineitem": (
        "(SELECT count(*) * 1000 + sum(l_linenumber) FROM lineitem)",
        {
            "0_001": 6024257,
            "0_01": 60240315,
            "0_1": 602400337,
            "1": 6024003370,
            "10": 60240033700,
        },
    ),
}


def _golden_oracle(name: str, table: str = "documents") -> str:
    expr, keys = _GOLDEN_KEYS[table]
    # only committed arms appear in the SQL: DuckDB binds every UNION
    # branch's read_parquet up front, so a missing file would fail the
    # whole oracle even when that scale's WHERE never matches. A scale
    # whose arm is absent instead falls through to zero rows — the
    # gate's explicit GOLDEN-SKIP (no_golden_for_scale) path.
    branches = [
        f"SELECT g.* FROM read_parquet('{_GOLDEN_DIR}/{name}_{tag}.parquet') g"
        f" WHERE {expr} = {key}"
        for tag, key in keys.items()
        if _Path(f"{_GOLDEN_DIR}/{name}_{tag}.parquet").exists()
    ]
    return "\nUNION ALL\n".join(branches)


def _md5_bucket(c, n: int):
    """Cross-engine-stable bucket in [0, n): first 8 md5 hex chars as a
    long, mod n. Parity-critical — must stay bit-identical to DuckDB's
    ``('0x' || substring(md5(x::VARCHAR), 1, 8))::BIGINT % n`` (also
    expressible in Trino/Flink SQL), which is why every split/diff/
    bucketing query shares THIS helper instead of hand-rolling it.
    (The string cast is an identity on string columns like tokens.)"""
    return F.pmod(
        F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long"),
        F.lit(n),
    )


def _dec2(c):  # exact money arithmetic: sum(decimal) is order-independent
    return c.cast("decimal(18,2)")


def _cents_sum(c, scale: int = 2):
    """Exact money sum via scaled-integer ("cents") long aggregation,
    returned as DOUBLE.

    ``round(x*10^s)::long`` is exact for values carrying <= s true decimal
    digits, the long sum is order-independent like a decimal sum, and the
    final ``/10^s`` double division is correctly rounded — so this equals
    ``fl(exact sum)``, bit-identical to ``sum(x::decimal(18,s))::double``
    while ``|group sum|·10^s < 2^53``.  The win: Spark's decimal sum
    widens the accumulator to decimal(28,s), which falls off the
    long-backed unsafe-row fast path (measured 1.5x on TPC-H Q1 groups,
    up to 20x under memory pressure); long accumulators stay in
    whole-stage codegen.  Envelope: exactness of the long->double
    conversion requires the scaled per-GROUP total < 2^53, i.e.
    |group sum| < $9.0e13 at s=2, $9.0e11 at s=4, $9.0e9 at s=6 —
    beyond that the result can drift ulps from ``fl(exact)`` and a
    half-boundary ``round`` may disagree with a decimal oracle, so
    fall back to ``F.sum(_decN(...))`` (see sum_charge in
    q_pricing_summary, which exceeds the s=6 bound already at sf1).
    """
    f = float(10**scale)
    return F.sum(F.round(c * f, 0).cast("long")) / F.lit(f)


# --------------------------------------------------------------------------
# T1 — top-k cosine similarity search (the reference's core query,
# QA_using_pinecone.py:31-48). Query vector = embedding of vec_id 0;
# searched over all other vectors, k=10, deterministic vec_id tiebreak.
# --------------------------------------------------------------------------


def q_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    score = cosine_sim(F.col("embedding"), query_vector_lit(qvec))
    return (
        emb.filter(F.col("vec_id") != 0)
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("score", 4).alias("score"))
    )


_SQL_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 4) AS score
FROM embeddings
WHERE vec_id <> 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) DESC, vec_id
LIMIT 10
"""


# --------------------------------------------------------------------------
# T1b — filtered top-k: metadata predicate pushed below the distance math
# (the reference's {"title": {"$in": ...}} filter, QA_using_pinecone.py:41).
# Here the predicate is label ∈ {1,2,3} — same shape: filter THEN score.
# --------------------------------------------------------------------------


def q_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    score = cosine_sim(F.col("embedding"), query_vector_lit(qvec))
    return (
        emb.filter(F.col("label").isin(1, 2, 3) & (F.col("vec_id") != 0))
        .withColumn("score", score)
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", "label", F.round("score", 4).alias("score"))
    )


_SQL_TOPK_FILTERED = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label,
       round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 4) AS score
FROM embeddings
WHERE label IN (1,2,3) AND vec_id <> 0
ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) DESC, vec_id
LIMIT 5
"""


# --------------------------------------------------------------------------
# A* — pricing summary (grouped aggregation with exact decimal sums;
# the engine's hash-agg showcase; TPC-H Q1 shape).
# --------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02")
    )
    # price/discount/tax carry 2 decimal digits, so disc_price is exact
    # at 4 decimals and charge at 6; summing at a scale wider than the
    # data's true precision avoids half-boundary rounding (where Spark
    # HALF_UP and DuckDB disagree on the same double).
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = (
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(_cents_sum(F.col("l_quantity")), 2).alias("sum_qty"),
            F.round(_cents_sum(F.col("l_extendedprice")), 2).alias("sum_base_price"),
            # disc_price as an exact INTEGER PRODUCT: price carries 2
            # decimals and discount 2, so price_cents·(100−disc_cents)
            # == disc_price·10⁴ exactly as a long (no float round-trip,
            # unlike the rejected round(disc_price·10⁴) idiom whose
            # fl() could sit on a half boundary). The long sum is exact
            # while per-group totals < 2^63/10⁴ ≈ $9.2e14 (~sf 2700);
            # past 2^53 micro-units the final long→double conversion is
            # correctly rounded — the same fl(exact) the oracle's
            # decimal-sum→double produces, so parity holds to overflow,
            # and the buffer stays primitive (measured 1.4→0.8 s sf1).
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100, 0).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100, 0).cast("long"))
                )
                / 1e4,
                2,
            ).alias("sum_disc_price"),
            # charge needs scale 6, and its per-group micro-unit sums are
            # ~2.8e16 at sf1 — 3x OVER the 2^53 long->double exactness
            # bound — so this one column keeps the decimal accumulator
            # (the oracle sums decimal(18,6); cents would only
            # coincidentally round-trip)
            F.round(
                F.sum(charge.cast("decimal(18,6)")).cast("double"), 2
            ).alias("sum_charge"),
            F.round(_cents_sum(F.col("l_quantity")) / F.count(F.lit(1)), 4).alias("avg_qty"),
            F.round(_cents_sum(F.col("l_extendedprice")) / F.count(F.lit(1)), 4).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 2) AS sum_qty,
       round((sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE, 2) AS sum_base_price,
       round((sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4)))::DOUBLE, 2) AS sum_disc_price,
       round((sum((l_extendedprice*(1-l_discount)*(1+l_tax))::DECIMAL(18,6)))::DOUBLE, 2) AS sum_charge,
       round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE / count(*), 4) AS avg_qty,
       round((sum(l_extendedprice::DECIMAL(18,2)))::DOUBLE / count(*), 4) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# --------------------------------------------------------------------------
# P1/P2 — point lookup by key (crud.py:8-12 analog).
# --------------------------------------------------------------------------


def q_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") == 42)
        .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    )


_SQL_POINT = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_custkey = 42
"""


# --------------------------------------------------------------------------
# P4 — projection with predicate (column pruning into the scan;
# main.py:80-93 analog).
# --------------------------------------------------------------------------


def q_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_size") >= 10) & (F.col("p_size") < 30))
        .select("p_partkey", "p_name", "p_brand", "p_retailprice")
    )


_SQL_PROJECTION = """
SELECT p_partkey, p_name, p_brand, p_retailprice
FROM part WHERE p_size >= 10 AND p_size < 30
"""


# --------------------------------------------------------------------------
# J1 — FK join, small side broadcast (user↔chats analog, main.py:64-74).
# --------------------------------------------------------------------------


def q_fk_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    return (
        # no broadcast hint: customer grows with SF (wrong to pin at
        # 100 TB); AQE upgrades to broadcast at runtime when the
        # filtered side is actually small
        orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
        .select("o_orderkey", "c_name", "o_totalprice", "o_orderpriority")
    )


_SQL_FK_JOIN = """
SELECT o_orderkey, c_name, o_totalprice, o_orderpriority
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
"""


# --------------------------------------------------------------------------
# J2/P5 — membership semi-join ($in metadata filter analog).
# --------------------------------------------------------------------------


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src1", "src5", "src7"))
        .select("doc_id", "source", "lang", "n_chars")
    )


_SQL_SEMI = """
SELECT doc_id, source, lang, n_chars
FROM documents WHERE source IN ('src1','src5','src7')
"""


# --------------------------------------------------------------------------
# J3/J4 — anti-join (delete-cascade orphan detection, pipeline2.py:342-354:
# "forms with no surviving vectors" ≡ customers with no recent orders).
# --------------------------------------------------------------------------


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


_SQL_ANTI = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '2001-01-01'
)
"""


# --------------------------------------------------------------------------
# W1/A2 — cumulative sum window (CummulativeTokenCount analog,
# pipeline1.py:187). Exact decimal running total per customer.
# --------------------------------------------------------------------------


def q_window_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        # running sum carried as exact integer cents through the window
        # frame (long buffer stays on the codegen fast path; decimal(28,2)
        # window buffers don't), rescaled to dollars at presentation
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).over(w)
            / F.lit(100.0),
            2,
        ).alias("running_total"),
    )


_SQL_CUMSUM = """
SELECT o_orderkey, o_custkey,
       round((sum(o_totalprice::DECIMAL(18,2)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE, 2) AS running_total
FROM orders
"""


# --------------------------------------------------------------------------
# W3/T2 — per-group top-N via row_number (chat history newest-first analog).
# --------------------------------------------------------------------------


def q_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


_SQL_TOPN = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 2
"""


# --------------------------------------------------------------------------
# T2/T3 — ordered scan with limit (chathistory ORDER BY created_datetime
# DESC, main.py:73) + deterministic tiebreak.
# --------------------------------------------------------------------------


def q_ordered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") == 7)
        .orderBy(F.desc("ts"), F.asc("event_id"))
        .limit(20)
        .select("event_id", "event_type", F.round("value", 2).alias("value"), "ts")
    )


_SQL_ORDERED = """
SELECT event_id, event_type, round(value, 2) AS value, ts
FROM events WHERE user_id = 7
ORDER BY ts DESC, event_id
LIMIT 20
"""


# --------------------------------------------------------------------------
# T3 — pagination (offset/limit, crud.py:30-33 analog) via row_number.
# --------------------------------------------------------------------------


def q_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.orderBy("event_id")
    return (
        load_table(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 100) & (F.col("rn") <= 150))
        .select("event_id", "user_id", "event_type")
    )


_SQL_PAGINATION = """
SELECT event_id, user_id, event_type
FROM events ORDER BY event_id LIMIT 50 OFFSET 100
"""


# --------------------------------------------------------------------------
# A3 — distinct (distinct form titles analog, pipeline2.py:126).
# --------------------------------------------------------------------------


def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select("lang", "source").distinct()


_SQL_DISTINCT = "SELECT DISTINCT lang, source FROM documents"


# --------------------------------------------------------------------------
# A4 — count by group (index stats per namespace analog).
# --------------------------------------------------------------------------


def q_count_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(_cents_sum(F.col("value")), 2).alias("sum_value"),
        )
    )


_SQL_COUNT_GROUP = """
SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
       round((sum(value::DECIMAL(18,2)))::DOUBLE, 2) AS sum_value
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# S15/A6 — index stats: total vector count + dimension
# (describe_index_stats analog, pipeline2.py:204-208).
# --------------------------------------------------------------------------


def q_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("total_vector_count"),
        F.min(F.size("embedding")).alias("dim_min"),
        F.max(F.size("embedding")).alias("dim_max"),
    )


_SQL_INDEX_STATS = """
SELECT count(*) AS total_vector_count,
       min(len(embedding)) AS dim_min, max(len(embedding)) AS dim_max
FROM embeddings
"""


# --------------------------------------------------------------------------
# A1 — order-preserving group concat (section text assembly,
# pipeline1.py:184-185: groupby('Section')['ParaContent'].agg('\n'.join)
# must preserve paragraph order).
# --------------------------------------------------------------------------


def q_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    ordered = F.array_sort(F.collect_list(F.struct("doc_id")))
    return docs.groupBy("lang").agg(
        F.array_join(
            F.transform(ordered, lambda x: x["doc_id"].cast("string")), ","
        ).alias("doc_ids"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_SQL_GROUP_CONCAT = """
SELECT lang, string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids,
       count(*) AS n_docs
FROM documents GROUP BY lang
"""


# --------------------------------------------------------------------------
# T4 — union (vertical concat of per-form chunk tables, pipeline1.py:690).
# --------------------------------------------------------------------------


def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    a = docs.filter(F.col("lang") == "en").select("doc_id", "lang")
    b = docs.filter(F.col("source") == "src3").select("doc_id", "lang")
    return a.unionByName(b).distinct()


_SQL_UNION = """
SELECT doc_id, lang FROM documents WHERE lang = 'en'
UNION
SELECT doc_id, lang FROM documents WHERE source = 'src3'
"""


# --------------------------------------------------------------------------
# F8 — regex extraction (filename from URL, pipeline1.py:383-388 analog:
# key extraction from the events JSON props column).
# --------------------------------------------------------------------------


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.regexp_extract(F.col("props"), r'"k":\s*(\d+)', 1)
        .cast("int")
        .alias("props_k"),
    )


_SQL_REGEX = """
SELECT event_id, regexp_extract(props, '"k":\\s*(\\d+)', 1)::INT AS props_k
FROM events
"""


# --------------------------------------------------------------------------
# Dedup (exact) — md5 fingerprint of normalized text; the exact-dedup key
# for a 100 TB corpus (group/join on 32 hex chars, not multi-KB strings).
# --------------------------------------------------------------------------


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", exact_fingerprint(F.col("text")).alias("fingerprint"))


_SQL_FINGERPRINT = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select("doc_id", exact_fingerprint(F.col("text")).alias("fingerprint"))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        fp.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy()
        .agg(
            F.count(F.lit(1)).alias("n_unique"),
        )
    )


_SQL_DEDUP_EXACT = """
SELECT count(*) AS n_unique FROM (
  SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
  FROM documents
)
"""


# --------------------------------------------------------------------------
# Near-dup dedup suite (operators/dedup.py). All four families run on the
# documents table; the md5-derived 60-bit hash is bit-identical between
# Spark (conv(substr(md5 ...))) and DuckDB (('0x'||substr(md5 ...))::BIGINT),
# so MinHash/SimHash signatures — not just final answers — are oracled.
# --------------------------------------------------------------------------

_SH_CTE = """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 1, 1))) AS i FROM toks),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM idx),
cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
pair_j AS (
  SELECT doc_a, doc_b, inter::DOUBLE / (ca.n + cb.n - inter) AS jaccard
  FROM (
    SELECT a.doc_id doc_a, b.doc_id doc_b, count(*) inter
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
  ) JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b)
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


_SQL_NGRAM_JACCARD = (
    _SH_CTE
    + """
SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
FROM pair_j WHERE jaccard >= 0.8
"""
)


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows_per_band=4 (16 hashes → 4 bands): the LSH S-curve midpoint
    (1/b)^(1/r) = 0.71 matches the 0.8 verify threshold; the old
    rows_per_band=2 put it at 0.35, so every 0.35-ish-similar pair
    became a candidate — 20M candidates on the sf1 stress data vs ~1M
    at r=4, with the oracle banding identically."""
    from ..operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, n=3, num_hashes=16, rows_per_band=4, threshold=0.8
    )
    return pairs.select(
        "doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard")
    )


def _minhash_oracle_sql(rows_per_band: int = 4) -> str:
    """Mirror of minhash_signatures' universal-hash family — same (a, b)
    constants, same integer arithmetic (no overflow on either engine),
    same banding (rows_per_band must match q_minhash_lsh)."""
    from ..operators.dedup import MINHASH_P, minhash_coeffs

    coeffs = minhash_coeffs(16)
    a_lit = "[" + ",".join(str(a) for a, _ in coeffs) + "]"
    b_lit = "[" + ",".join(str(b) for _, b in coeffs) + "]"
    r = rows_per_band
    return (
        _SH_CTE
        + f""",
based AS (
  SELECT doc_id, shingle,
         ('0x' || substring(md5(shingle), 1, 8))::BIGINT AS base
  FROM sh),
mh AS (
  SELECT doc_id, s.s AS seed,
         min(({a_lit}[s.s + 1] * base + {b_lit}[s.s + 1]) % {MINHASH_P}) AS mh
  FROM based CROSS JOIN (SELECT unnest(range(16)) s) s
  GROUP BY doc_id, s.s),
bands AS (
  SELECT doc_id, seed // {r} AS band, string_agg(mh::VARCHAR, ',' ORDER BY seed) AS sig
  FROM mh GROUP BY doc_id, seed // {r}),
cands AS (
  SELECT DISTINCT a.doc_id doc_a, b.doc_id doc_b
  FROM bands a JOIN bands b USING (band, sig)
  WHERE a.doc_id < b.doc_id)
SELECT doc_a, doc_b, round(jaccard, 4) AS jaccard
FROM pair_j JOIN cands USING (doc_a, doc_b)
WHERE jaccard >= 0.8
"""
    )


_SQL_MINHASH_LSH = _minhash_oracle_sql()

_SIMHASH_CTE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
  FROM documents),
tf AS (SELECT doc_id, tok, count(*) w FROM toks GROUP BY 1, 2),
th AS (SELECT doc_id, w, ('0x' || substring(md5(tok), 1, 15))::BIGINT AS h FROM tf),
votes AS (
  SELECT doc_id, b, sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) s
  FROM th CROSS JOIN (SELECT unnest(range(60)) b) GROUP BY doc_id, b),
simh AS (
  SELECT doc_id, (sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS simhash
  FROM votes GROUP BY doc_id)
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_table

    docs = load_table(spark, sf_dir, "documents")
    return simhash_table(docs, bits=60)


_SQL_SIMHASH = _SIMHASH_CTE + "SELECT doc_id, simhash FROM simh"


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, bits=60, max_distance=4)


# oracle is the brute-force cross join; the Spark plan is the banded join,
# which is provably equivalent (pigeonhole) — the gate checks exactly that.
_SQL_SIMHASH_PAIRS = (
    _SIMHASH_CTE
    + """
SELECT a.doc_id doc_a, b.doc_id doc_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM simh a, simh b
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= 4
"""
)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: exact-Jaccard pairs → connected
    components (min-label propagation). Oracle: recursive-CTE
    transitive closure — tiny on the planted clusters, exact."""
    from ..operators.dedup import connected_components, ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.8)
    return connected_components(pairs)


# recursive CTE ⇒ the whole WITH chain must be declared RECURSIVE
_SQL_DEDUP_COMPONENTS = (
    _SH_CTE.replace("\nWITH toks", "\nWITH RECURSIVE toks", 1)
    + """,
dup_edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pair_j WHERE jaccard >= 0.8
  UNION
  SELECT doc_b, doc_a FROM pair_j WHERE jaccard >= 0.8),
reach AS (
  SELECT src, dst FROM dup_edges
  UNION
  SELECT r.src, e.dst
  FROM reach r JOIN dup_edges e ON r.dst = e.src
  WHERE r.src <> e.dst)
SELECT src AS doc_id, least(src, min(dst)) AS component
FROM reach GROUP BY src
"""
)


def q_curation_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full curation pipeline's accounting: rows per cull reason +
    kept (rows-only: lang-ID is a pandas-UDF heuristic)."""
    from .curation import CurationConfig, curate_documents

    docs = load_table(spark, sf_dir, "documents")
    kept, culled = curate_documents(docs, CurationConfig(min_tokens=20))
    summary = culled.groupBy("reason").agg(F.count(F.lit(1)).alias("n"))
    kept_row = kept.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("kept").alias("reason"), "n"
    )
    return summary.unionByName(kept_row)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import embedding_topk_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_topk_pairs(emb, k=20)


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup summary (rows-only: the k-means quantizer is
    engine-side numpy; tests/test_dedup.py pins the keep rule on
    handmade clusters and determinism across runs). Reports per-cluster
    kept/dropped accounting — every input row is counted somewhere."""
    from ..operators.dedup import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    marked = semdedup(emb, threshold=0.95, nlist=16)
    return (
        marked.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("is_kept"), 1).otherwise(0)).alias("n_kept"),
        )
        .orderBy("cluster")
    )


_SQL_EMBEDDING_NEAR_DUP = """
SELECT id_a, id_b, round(c, 4) AS cosine FROM (
  SELECT a.vec_id id_a, b.vec_id id_b,
         list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) c
  FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id)
ORDER BY c DESC, id_a, id_b LIMIT 20
"""


# --------------------------------------------------------------------------
# Text analysis — quality-scoring feature columns (all native expressions).
# --------------------------------------------------------------------------


def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cols = quality_columns(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_tokens"].alias("n_tokens"),
        cols["mean_token_len"].alias("mean_token_len"),
        cols["stopword_ratio"].alias("stopword_ratio"),
    )


_SQL_QUALITY = """
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS n_tokens,
       round(length(text)::DOUBLE / (CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
             THEN len(regexp_extract_all(text, '\\S+')) ELSE 1 END), 4) AS mean_token_len,
       round(len(regexp_extract_all(lower(text),
             '\\b(?:the|a|an|and|or|of|to|in|is|it|that|for|on|with|as|was|at|by|be|this)\\b'))::DOUBLE
             / (CASE WHEN len(regexp_extract_all(text, '\\S+')) > 0
                THEN len(regexp_extract_all(text, '\\S+')) ELSE 1 END), 4) AS stopword_ratio
FROM documents
"""


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition removal (Gopher/C4 duplicate-line filter):
    drop repeated lines keeping first occurrence. Document-local
    ``array_distinct`` — one codegen projection, zero shuffles at any
    corpus size."""
    from ..functions.textfns import line_dedup_columns

    docs = load_table(spark, sf_dir, "documents")
    cols = line_dedup_columns(F.col("text"))
    return docs.select(
        "doc_id",
        cols["n_lines"].alias("n_lines"),
        cols["n_dup_lines"].alias("n_dup_lines"),
        cols["clean_chars"].alias("clean_chars"),
        cols["dup_char_frac"].alias("dup_char_frac"),
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the other half of
    line-level dedup, per CCNet/RefinedWeb): a line appearing in >= 5
    distinct documents is boilerplate (headers, nav, license blurbs);
    report per-doc counts and fraction. The line-frequency groupBy and
    the join back run on ``(xxhash64(line), length(line))`` fixed-width
    keys, not the line strings — at 100 TB the inverted-index shuffle
    moves ~12 bytes/row (same idiom as the Jaccard pair join). A false
    merge needs two distinct lines agreeing on BOTH the 64-bit hash and
    the length — far below corpus line-pair counts, and deterministic
    across runs either way."""
    docs = load_table(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.col("text"), "\n"))).alias("line"),
    )
    key, klen = F.xxhash64("line"), F.length("line")
    # document frequency as a count-over-window instead of the groupBy →
    # join-back plan: ONE wide exchange of the skinny (doc, k, kl) rows
    # (lines are per-doc distinct, so there is nothing for a map-side
    # combine to collapse and the join formulation just shuffles the
    # same rows twice — measured 1.7× slower at sf1)
    wdf = Window.partitionBy("k", "kl")
    return (
        dl.select("doc_id", key.alias("k"), klen.alias("kl"))
        .withColumn("df", F.count(F.lit(1)).over(wdf))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(F.when(F.col("df") >= 5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_lines",
            "n_boiler",
            F.round(F.col("n_boiler").cast("double") / F.col("n_lines"), 6).alias(
                "boiler_frac"
            ),
        )
        .orderBy("doc_id")
    )


_SQL_BOILERPLATE_LINES = """
WITH dl AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, chr(10))) AS line
  FROM documents),
lf AS (SELECT line, count(*) AS df FROM dl GROUP BY line)
SELECT doc_id,
       count(*)::BIGINT AS n_lines,
       (sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END))::BIGINT AS n_boiler,
       round(sum(CASE WHEN df >= 5 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS boiler_frac
FROM dl JOIN lf USING (line)
GROUP BY doc_id ORDER BY doc_id
"""


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document quota (the CCNet/Dolma per-domain cap):
    keep at most K docs per source, preferring longer documents with a
    deterministic doc_id tiebreak. One rank window per source
    partition — the partition count is the number of sources, so at
    100 TB the quota runs as a single shuffle keyed by a modest-
    cardinality column (salt the window key if one domain dominates;
    see operators/skew.py)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .orderBy("source", "rk")
    )


_SQL_SOURCE_QUOTA = """
SELECT doc_id, source, n_chars, rk FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id ASC) AS rk
  FROM documents)
WHERE rk <= 10 ORDER BY source, rk
"""


# --------------------------------------------------------------------------
# PII scrubbing (round 8) — the redaction pass every publicly-documented
# curation pipeline runs before training (C4/Dolma-style regex scrub).
# The synthetic corpus carries no PII, so a contact line is derived
# DETERMINISTICALLY from doc_id (the classify_paragraphs precedent) and
# the scrub + accounting run on the derived text; patterns are chosen
# to parse identically under Java regex (Spark) and RE2 (DuckDB).
# Native regexp_replace/regexp_count — zero Python in the hot path; one
# modest-cardinality shuffle for the per-source accounting.
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+[0-9][0-9-]{6,}[0-9]"


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad(((F.col("doc_id") * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" ok"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(pii, F.lit(_PII_EMAIL), F.lit("[EMAIL]")),
        F.lit(_PII_PHONE),
        F.lit("[PHONE]"),
    )
    return (
        docs.select(
            "source",
            F.regexp_count(pii, F.lit(_PII_EMAIL)).alias("n_email"),
            F.regexp_count(pii, F.lit(_PII_PHONE)).alias("n_phone"),
            (F.length(pii) - F.length(scrubbed)).alias("chars_delta"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_email").alias("emails_redacted"),
            F.sum("n_phone").alias("phones_redacted"),
            F.sum("chars_delta").alias("chars_removed"),
        )
        .orderBy("source")
    )


_SQL_PII_SCRUB = """
WITH p AS (
  SELECT source,
         text || ' contact user' || doc_id ||
         '@example.com or +1-555-' ||
         lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') || ' ok' AS pii
  FROM documents),
s AS (
  SELECT source, pii,
         regexp_replace(
           regexp_replace(pii, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                          '[EMAIL]', 'g'),
           '\\+[0-9][0-9-]{6,}[0-9]', '[PHONE]', 'g') AS scrubbed
  FROM p)
SELECT source,
       count(*) AS n_docs,
       sum(len(regexp_extract_all(pii,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')))::BIGINT
         AS emails_redacted,
       sum(len(regexp_extract_all(pii, '\\+[0-9][0-9-]{6,}[0-9]')))::BIGINT
         AS phones_redacted,
       sum(length(pii) - length(scrubbed))::BIGINT AS chars_removed
FROM s GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# URL host blocklist filter (round 8) — the domain-blocklist gate of a
# crawl-curation pipeline. URLs are derived deterministically from
# doc_id; the blocklist is a real (broadcast) TABLE join, not an isin
# literal, because production blocklists are tables of thousands of
# hosts that update independently of the query.
# --------------------------------------------------------------------------

_URL_HOSTS = [
    "docs.example.com",
    "spam.example.com",
    "cdn.example.net",
    "ads.example.net",
    "wiki.example.org",
    "tracker.example.org",
    "blog.example.io",
    "mail.example.co",
]
_URL_BLOCKED = ["spam.example.com", "ads.example.net", "tracker.example.org"]


def q_url_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    host_arr = F.array(*[F.lit(h) for h in _URL_HOSTS])
    url = F.concat(
        F.lit("https://"),
        F.element_at(host_arr, (F.col("doc_id") % 8 + 1).cast("int")),
        F.lit("/docs/"),
        F.col("doc_id").cast("string"),
        F.lit(".html"),
    )
    blocklist = spark.createDataFrame(
        [(h,) for h in _URL_BLOCKED], "host string"
    ).withColumn("blocked", F.lit(1))
    urls = docs.select(
        "source",
        F.regexp_extract(url, r"^https?://([^/]+)/", 1).alias("host"),
    )
    return (
        urls.join(F.broadcast(blocklist), "host", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.coalesce(F.col("blocked"), F.lit(0))).alias("n_blocked"),
            F.sum(
                F.when(F.col("blocked").isNull(), 1).otherwise(0)
            ).alias("n_kept"),
        )
        .orderBy("source")
    )


_SQL_URL_HOST_FILTER = """
WITH u AS (
  SELECT source,
         regexp_extract(
           'https://' ||
           (['docs.example.com','spam.example.com','cdn.example.net',
             'ads.example.net','wiki.example.org','tracker.example.org',
             'blog.example.io','mail.example.co'])[(doc_id % 8) + 1] ||
           '/docs/' || doc_id || '.html',
           '^https?://([^/]+)/', 1) AS host
  FROM documents),
b AS (SELECT unnest(['spam.example.com','ads.example.net',
                     'tracker.example.org']) AS host, 1 AS blocked)
SELECT u.source,
       count(*) AS n_urls,
       sum(coalesce(b.blocked, 0))::BIGINT AS n_blocked,
       sum(CASE WHEN b.blocked IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept
FROM u LEFT JOIN b ON u.host = b.host
GROUP BY u.source ORDER BY u.source
"""


# first-occurrence order doesn't affect any output column (clean length
# = sum of distinct-line lengths + separators), so the oracle needs no
# ordinality bookkeeping
_SQL_LINE_DEDUP = """
WITH l AS (
  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM documents),
c AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id),
u AS (SELECT DISTINCT doc_id, line FROM l),
uc AS (SELECT doc_id, count(*) AS n_uniq, sum(length(line)) AS uniq_chars
       FROM u GROUP BY doc_id)
SELECT d.doc_id,
       c.n_lines::BIGINT AS n_lines,
       (c.n_lines - uc.n_uniq)::BIGINT AS n_dup_lines,
       (uc.uniq_chars + uc.n_uniq - 1)::BIGINT AS clean_chars,
       CASE WHEN length(d.text) > 0
            THEN round((length(d.text) - (uc.uniq_chars + uc.n_uniq - 1))::DOUBLE
                       / length(d.text), 6)
       END AS dup_char_frac
FROM documents d JOIN c USING (doc_id) JOIN uc USING (doc_id)
"""


# --------------------------------------------------------------------------
# W2 — section numbering (pipeline1.py:167-179 semantics) as pure window
# expressions, exercised on the events table: a 'signup' event is the
# "heading"; every pre-first-signup event opens its own section.
# --------------------------------------------------------------------------


def q_sectionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import sectionize_expr

    events = load_table(spark, sf_dir, "events")
    is_heading = F.col("event_type") == "signup"
    return events.select(
        "user_id",
        "event_id",
        sectionize_expr(is_heading, ["user_id"], [F.col("ts"), F.col("event_id")])
        .cast("bigint")
        .alias("section"),
    )


_SQL_SECTIONIZE = """
SELECT user_id, event_id,
       (sum(CASE WHEN is_heading OR NOT heading_seen_before THEN 1 ELSE 0 END)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS section
FROM (
  SELECT user_id, event_id, ts, (event_type = 'signup') AS is_heading,
         coalesce(max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
           AS heading_seen_before
  FROM events
)
"""


# --------------------------------------------------------------------------
# F2/F3 + F4 — token-aware chunk packing (sequential fold per document;
# genuinely non-SQL-expressible → rows-only driver check; full golden
# coverage against the transcribed reference loops lives in
# tests/test_chunking.py).
# --------------------------------------------------------------------------


def q_pypdf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import pypdf_chunk_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("FormName"),
        # documents.text is single-line; fold every 12th space into a
        # newline so the line-level pack has real work to do
        F.regexp_replace(
            F.col("text"), r"((?:\S+\s+){12})", "$1\n"
        ).alias("text"),
    )
    return pypdf_chunk_table(docs, token_limit=32, tokenizer="bpe")


def q_nougat_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import nougat_chunk_table

    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("FormName"),
        F.regexp_replace(
            F.col("text"), r"((?:\S+\s+){12})", "$1\n"
        ).alias("text"),
    )
    return nougat_chunk_table(docs, token_limit=48, tokenizer="bpe")


# --------------------------------------------------------------------------
# T1c — batch k-NN join: every query vector gets its k nearest index
# vectors in ONE job (the reference answers one question at a time; the
# engine form is a broadcast nested-loop + per-query-id rank window).
# --------------------------------------------------------------------------


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.topk import knn_join

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    index = emb.filter(F.col("vec_id") >= 5).select(
        "vec_id", F.col("embedding").alias("vector")
    )
    hits = knn_join(queries, index, 3, tiebreak=("vec_id",))
    return hits.select(
        "qid", "vec_id", F.round("score", 4).alias("score")
    )


_SQL_KNN_JOIN = """
SELECT qid, vec_id, round(score, 4) AS score FROM (
  SELECT q.vec_id AS qid, i.vec_id,
         list_cosine_similarity(i.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS score,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_cosine_similarity(i.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                    i.vec_id) AS rn
  FROM embeddings q CROSS JOIN embeddings i
  WHERE q.vec_id < 5 AND i.vec_id >= 5
) WHERE rn <= 3
"""


def q_ivfpq_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN serving (round 6): many queries answered in ONE scan
    of the union of their probed IVF cells (``ivfpq_topk_batch`` —
    per-query LUTs broadcast once, per-cluster LUT-gather scoring,
    local tie-keeping top cut, exact re-rank). The gate pins the
    PLUMBING exactly: full probing + a shortlist covering the probed
    rows makes the result bit-identical to brute-force k-NN (the SQL
    oracle); the bounded-shortlist/bounded-probe approximate mode is
    pinned by the recall floor in ``tests/test_ann.py``."""
    from ..operators.ann import ivfpq_build, ivfpq_encode, ivfpq_topk_batch

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    index = emb.filter(F.col("vec_id") >= 5)
    # tiny training budget: the full-probe + covering-shortlist rerank
    # makes the RESULT exact regardless of quantizer quality, so the
    # gate spends its wall on the serving plumbing, not on k-means
    centroids, codebooks = ivfpq_build(
        index,
        nlist=8,
        m=8,
        nbits=8,
        seed=7,
        coarse_iter=3,
        pq_iter=3,
        sample_cap=2048,
    )
    enc = ivfpq_encode(index, centroids, codebooks, posts=2).select(
        "vec_id", "cluster", "codes", "norm"
    )
    hits = ivfpq_topk_batch(
        enc,
        centroids,
        codebooks,
        queries,
        3,
        nprobe=8,
        emb=index,
        q_vec_col="qvec",
        shortlist=1_000_000,
    )
    return hits.select("qid", "vec_id", F.round("score", 4).alias("score"))


_SQL_IVFPQ_BATCH_TOPK = _SQL_KNN_JOIN


# --------------------------------------------------------------------------
# Relational breadth — TPC-H-shaped multi-join analytics. The reference has
# no general join executor (SURVEY §2.3); these exercise what Spark gives
# natively and prove the engine handles the full join/agg/sort pipeline
# shape at scale (broadcast dims, partial aggs, TakeOrdered top-N).
# --------------------------------------------------------------------------


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: revenue of unshipped orders for one segment."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-06-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-06-01")
    )
    revenue = _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("l_orderkey"))
        .limit(10)
    )


_SQL_SHIPPING_PRIORITY = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       round((sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4)))::DOUBLE, 2) AS revenue
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-06-01'
  AND l_shipdate > TIMESTAMP '1997-06-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join, customer and supplier co-national."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("n_name"))
    )


_SQL_LOCAL_SUPPLIER = """
SELECT n_name,
       round((sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4)))::DOUBLE, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND c_nationkey = s_nationkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top customers by returned-item revenue."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-07-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    revenue = _cents_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_SQL_RETURNED_ITEMS = """
SELECT c_custkey, c_name, c_acctbal, n_name,
       round((sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4)))::DOUBLE, 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


# --------------------------------------------------------------------------
# Word frequency top-k (the canonical explode+agg+TakeOrdered shape over
# the documents corpus) and moment statistics.
# --------------------------------------------------------------------------


def q_word_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency top-k. Skew posture: the Zipf head ("the") is
    collapsed by map-side partial aggregation — each task emits ONE
    partial per hot token, so the reduce side receives n_tasks rows per
    token regardless of corpus size; the top-k itself is
    TakeOrderedAndProject (no global sort). See q_skewed_agg_salted for
    where manual salting IS needed."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word")
    )
    return (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(25)
    )


_SQL_WORD_TOPK = """
SELECT word, count(*) AS n FROM (
  SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
  FROM documents)
GROUP BY word ORDER BY n DESC, word LIMIT 25
"""


def q_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # mean via the scaled-long sum / count idiom (same as avg_qty in
    # q_pricing_summary): fl(exact cents sum)/n is bit-identical to the
    # oracle's decimal-sum→double / count, and keeps the whole aggregate
    # buffer primitive — a decimal avg accumulator dropped this agg off
    # the long-backed fast path (13x DuckDB before, ~2x after)
    return events.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("sd"),
        F.round(F.var_samp("value"), 4).alias("var"),
        F.round(_cents_sum(F.col("value")) / F.count(F.lit(1)), 4).alias("mean"),
    )


_SQL_MOMENT_STATS = """
SELECT event_type,
       round(stddev_samp(value), 4) AS sd,
       round(var_samp(value), 4) AS var,
       round((sum(value::DECIMAL(18,2)))::DOUBLE / count(*), 4) AS mean
FROM events GROUP BY event_type
"""


_SAMPLE_RATES = {"click": 50, "view": 25, "purchase": 100, "signup": 10, "error": 0}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling (training-data subsampling op) by
    content-free id hash — the same md5-bucket idiom as
    ``q_dataset_split``, so the sample is reproducible across engines,
    re-runs, and incremental appends (a row's keep/drop never changes).
    ``DataFrame.sampleBy`` exists for one-off Bernoulli draws, but its
    RNG stream is engine-specific; a 100 TB curation pipeline wants the
    deterministic bucket form so reruns and audits see the same rows.
    Pure map-side filter (the rate CASE and the hash both sit on the
    scan) followed by one small agg."""
    events = load_table(spark, sf_dir, "events")
    bucket = _md5_bucket(F.col("event_id"), 100)
    rate = F.coalesce(
        *[
            F.when(F.col("event_type") == k, F.lit(v))
            for k, v in _SAMPLE_RATES.items()
        ],
        F.lit(0),
    )
    return (
        events.filter(bucket < rate)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


_SQL_STRATIFIED_SAMPLE = """
SELECT event_type, count(*) AS n
FROM (SELECT event_type,
             ('0x' || substring(md5(event_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
      FROM events)
WHERE b < CASE event_type
            WHEN 'click' THEN 50 WHEN 'view' THEN 25 WHEN 'purchase' THEN 100
            WHEN 'signup' THEN 10 ELSE 0 END
GROUP BY event_type ORDER BY event_type
"""


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ approximate distinct (rows-only: sketch estimates are
    engine-specific; tests/test_corpus or the pytest suite bounds the
    relative error vs exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
    )


# --------------------------------------------------------------------------
# Temporal joins (operators/range_join.py): bucketed range join and
# window-based as-of join — exact, shuffle-bounded; oracles are the naive
# inequality/correlated forms DuckDB can afford at test scale.
# --------------------------------------------------------------------------


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import range_join_next_window

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    pairs = range_join_next_window(
        events, events, key="user_id", window_seconds=1800
    )
    return pairs.select("l_event_id", "r_event_id")


_SQL_RANGE_JOIN = """
SELECT a.event_id AS l_event_id, b.event_id AS r_event_id
FROM events a JOIN events b ON a.user_id = b.user_id
WHERE epoch_us(b.ts) > epoch_us(a.ts)
  AND epoch_us(b.ts) <= epoch_us(a.ts) + 1800 * 1000000
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import asof_join_prior

    events = load_table(spark, sf_dir, "events")
    out = asof_join_prior(
        events,
        key="user_id",
        ts_col="ts",
        order_tiebreak="event_id",
        value_col="event_id",
        condition=F.col("event_type") == "view",
        out_col="last_view_event",
    )
    return out.filter(F.col("event_type") == "purchase").select(
        "event_id", "last_view_event"
    )


_SQL_ASOF_JOIN = """
SELECT e.event_id,
       (SELECT v.event_id FROM events v
        WHERE v.user_id = e.user_id AND v.event_type = 'view'
          AND (v.ts < e.ts OR (v.ts = e.ts AND v.event_id < e.event_id))
        ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS last_view_event
FROM events e WHERE e.event_type = 'purchase'
"""


# --------------------------------------------------------------------------
# SQL-surface breadth: rollup, pivot, set ops, rank-family windows,
# exact percentiles, date part extraction — the long tail a user of a
# general engine expects, each hash-checked against DuckDB.
# --------------------------------------------------------------------------


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP without the Expand: Spark's native rollup expands every
    input row ×(levels+1) BEFORE the aggregate (18M rows into the hash
    agg at sf1). Aggregating the finest level first (6M → 6 rows) and
    deriving the coarser levels from those 6 — exact, the cents sums
    are associative longs — gets the same result with one narrow
    exchange and a third of the agg input."""
    from ..runtime import register_materialized

    li = load_table(spark, sf_dir, "lineitem")
    base = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long")).alias("_c"),
    )
    # `base` feeds three union branches; without materialization Spark
    # CLONES the whole subtree per branch (3 corpus scans + 3 aggs —
    # the before-plan had 5 exchanges), defeating this query's entire
    # point. Checkpoint the handful of finest-level rows once.
    base = base.localCheckpoint(eager=False)
    register_materialized(base)
    lvl1 = base.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"), F.sum("_c").alias("_c")
    ).withColumn("l_linestatus", F.lit(None).cast("string"))
    lvl0 = base.agg(F.sum("n").alias("n"), F.sum("_c").alias("_c")).select(
        F.lit(None).cast("string").alias("l_returnflag"),
        F.lit(None).cast("string").alias("l_linestatus"),
        "n",
        "_c",
    )
    cols = ["l_returnflag", "l_linestatus", "n", "_c"]
    return (
        base.select(cols)
        .unionByName(lvl1.select(cols))
        .unionByName(lvl0.select(cols))
        .select(
            "l_returnflag",
            "l_linestatus",
            "n",
            F.round(F.col("_c") / 100.0, 2).alias("sum_qty"),
        )
    )


_SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 2) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


_SQL_ENTRY_TEXT = """
SELECT c_custkey, c_name
FROM customer c
WHERE c_acctbal > 9000
  AND EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey
                AND o.o_orderpriority = '1-URGENT')
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderstatus = 'F'
                    AND o2.o_totalprice < 50000)
"""


def q_sql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry path: the engine accepts ANSI SQL over registered
    views (spark.sql), including correlated EXISTS / NOT EXISTS —
    Catalyst rewrites them to semi/anti joins. Same text runs on DuckDB
    as the oracle."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, tables=("customer", "orders"))
    return spark.sql(_SQL_ENTRY_TEXT)


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n")
    )


_SQL_CUBE = """
SELECT l_returnflag, l_linestatus, count(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers vs high-value orders, both unmatched sides preserved."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    big = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "full_outer")
        .select(
            "c_custkey",
            "o_custkey",
            F.coalesce("n_big", F.lit(0)).alias("n_big"),
        )
    )


_SQL_FULL_OUTER = """
SELECT c_custkey, o_custkey, coalesce(n_big, 0) AS n_big
FROM (SELECT * FROM customer WHERE c_custkey <= 200) c
FULL OUTER JOIN (
  SELECT o_custkey, count(*) AS n_big FROM orders
  WHERE o_totalprice > 400000 GROUP BY o_custkey) o
ON c.c_custkey = o.o_custkey
"""


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide → long (melt): per-part price/size as (metric, value) rows."""
    part = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'retailprice', p_retailprice,"
            " 'size', cast(p_size as double)) as (metric, value)"
        ),
    )


_SQL_UNPIVOT = """
SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value
FROM part WHERE p_partkey <= 500
UNION ALL
SELECT p_partkey, 'size', p_size::DOUBLE FROM part WHERE p_partkey <= 500
"""


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
    )


_SQL_PIVOT = """
SELECT o_orderpriority,
       count(*) FILTER (o_orderstatus = 'F') AS n_f,
       count(*) FILTER (o_orderstatus = 'O') AS n_o,
       count(*) FILTER (o_orderstatus = 'P') AS n_p
FROM orders GROUP BY o_orderpriority
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    y96 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    ).select("o_custkey")
    y97 = orders.filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    ).select("o_custkey")
    both = y96.intersect(y97).withColumn("cohort", F.lit("both"))
    only96 = y96.exceptAll(y97).distinct().withColumn("cohort", F.lit("only_1996"))
    return both.unionByName(only96)


_SQL_SET_OPS = """
WITH y96 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'),
     y97 AS (SELECT o_custkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01')
SELECT o_custkey, 'both' AS cohort FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97)
UNION ALL
SELECT DISTINCT o_custkey, 'only_1996' AS cohort FROM (SELECT o_custkey FROM y96 EXCEPT ALL SELECT o_custkey FROM y97)
"""


def q_window_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_acctbal"), F.asc("s_suppkey")
    )
    return supp.select(
        "s_suppkey",
        "s_nationkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("s_suppkey", 1).over(w).alias("prev_supp"),
        F.lead("s_suppkey", 1).over(w).alias("next_supp"),
    )


_SQL_WINDOW_RANKS = """
SELECT s_suppkey, s_nationkey,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4)     OVER w AS quartile,
       lag(s_suppkey, 1)  OVER w AS prev_supp,
       lead(s_suppkey, 1) OVER w AS next_supp
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey)
"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


_SQL_PERCENTILES = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90,
       round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type
"""


def q_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    # ISO day-of-week (1=Mon..7=Sun) on both engines: Spark dayofweek is
    # 1=Sun..7=Sat -> remap; DuckDB isodow is already ISO
    isodow = (F.dayofweek("o_orderdate") + 5) % 7 + 1
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("y"),
            F.quarter("o_orderdate").alias("q"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(isodow >= 6, 1).otherwise(0)).alias("weekend_orders"),
        )
    )


_SQL_DATE_EXTRACT = """
SELECT year(o_orderdate)::INT AS y, quarter(o_orderdate)::INT AS q,
       count(*) AS n,
       (sum(CASE WHEN isodow(o_orderdate) >= 6 THEN 1 ELSE 0 END))::BIGINT AS weekend_orders
FROM orders GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Event-stream analytics over the events table: tumbling windows,
# gap-based sessionization, JSON prop extraction — the batch forms of the
# streaming operators (streaming/ runs the same logic incrementally).
# --------------------------------------------------------------------------


def q_event_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(_cents_sum(F.col("value")), 2).alias("sum_value"),
        )
    )


_SQL_EVENT_HOURLY = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n,
       round((sum(value::DECIMAL(18,2)))::DOUBLE, 2) AS sum_value
FROM events GROUP BY 1, 2
"""


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions: >30 min of silence starts a new session.
    Microsecond-exact on both sides via unix_micros/epoch_us."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > 1800 * 1_000_000), 1
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.withColumn("sid", F.sum(new_session).over(wc))
    return sess.groupBy("user_id").agg(
        F.max("sid").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


_SQL_SESSIONIZATION = """
WITH lagged AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM lagged),
sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged)
SELECT user_id, max(sid)::BIGINT AS n_sessions, count(*) AS n_events
FROM sess GROUP BY user_id
"""


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming through the correctness gate: the events
    table read as a FILE STREAM, drained with Trigger.AvailableNow
    through the watermarked tumbling-window aggregation into a memory
    sink. The result must equal the batch GROUP BY — the streaming/batch
    parity contract, checked against a plain SQL oracle."""
    from ..streaming.ingest import (
        run_windowed_counts_available_now,
        stream_events_table,
    )

    out = run_windowed_counts_available_now(
        spark,
        stream_events_table(spark, sf_dir),
        query_name="corpus_stream_hourly",
    )
    return out.select(
        "hour_start", "event_type", F.col("n").cast("bigint").alias("n")
    )


_SQL_STREAM_HOURLY = """
SELECT date_trunc('hour', ts) AS hour_start, event_type, count(*) AS n
FROM events GROUP BY 1, 2
"""


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator through the correctness gate:
    the events table as a file stream, drained through the
    ``applyInPandasWithState`` gap-sessionizer (30-min silence starts a
    new session; per-user state carried across micro-batches). The
    final state must equal the batch window-function sessionization —
    the strongest streaming-parity claim the engine makes, checked
    against the same SQL oracle family as ``event_sessionization``."""
    from ..streaming.ingest import (
        run_sessionize_available_now,
        stream_events_table,
    )

    return run_sessionize_available_now(
        spark,
        stream_events_table(spark, sf_dir),
        query_name="corpus_stream_sessions",
    )


_SQL_STREAM_SESSIONS = """
WITH lagged AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap_us
  FROM events),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000 THEN 1 ELSE 0 END AS new_s
  FROM lagged),
sess AS (
  SELECT user_id,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM flagged)
SELECT user_id, max(sid)::BIGINT AS n_sessions, count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id
"""


def q_stream_sessions_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-native gap sessionization through the correctness gate: the
    same file stream drained through ``session_window`` (all state in
    the JVM state store, no Python per group) must reproduce the
    window-function batch sessionization — same oracle as
    ``stream_sessions``, proving the two streaming implementations and
    the batch form are one semantics — including the gap boundary:
    ``session_window`` merges an event landing exactly on the window
    end, which IS the engine's strict-> split rule (q.v.
    ``sessionize_stream_native``; pytest pins the 1 µs boundary)."""
    from ..streaming.ingest import (
        run_sessionize_native_available_now,
        stream_events_table,
    )

    return run_sessionize_native_available_now(
        spark,
        stream_events_table(spark, sf_dir),
        query_name="corpus_stream_sessions_native",
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return events.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


_SQL_JSON_PROPS = """
SELECT event_type,
       (sum(json_extract_string(props, '$.k')::INT))::BIGINT AS sum_k,
       min(json_extract_string(props, '$.k')::INT) AS min_k,
       max(json_extract_string(props, '$.k')::INT) AS max_k
FROM events GROUP BY event_type
"""


# --------------------------------------------------------------------------
# ANN — the approximate scale path for T1 (rows-only: approximate top-k has
# no SQL oracle; tests/test_ann.py checks recall vs the exact baseline and
# that candidate pruning really prunes).
# --------------------------------------------------------------------------


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with MULTI-ASSIGNMENT (each vector posted to its top-2
    cells): the synthetic 64-d embeddings are near-uniform, so cosine
    neighbors routinely straddle Voronoi boundaries — single-assignment
    recall@10 plateaued at 0.7 even probing 12/16 cells, while top-2
    posting reaches 0.9-1.0 at every sf probing only 8/16. Storage 2×,
    probe cost unchanged — the standard IVF recall/storage trade."""
    import numpy as np

    from ..operators.ann import ivf_assign_multi, ivf_fit_centroids
    from ..operators.topk import topk_cosine

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    cents = ivf_fit_centroids(rest, nlist=16)
    assigned = ivf_assign_multi(rest, cents, probes=2).withColumn(
        "cluster", F.explode("clusters")
    )
    d = ((cents - np.asarray(qvec)[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in np.argsort(d)[:8]]
    cands = (
        assigned.filter(F.col("cluster").isin(probe))
        .drop("cluster", "clusters")
        .dropDuplicates(["vec_id"])
    )
    hits = topk_cosine(cands, qvec, 10, vec_col="embedding")
    return hits.orderBy(F.desc("score"), F.asc("vec_id")).select(
        "vec_id", "label", F.round("score", 4).alias("score")
    )


def ann_recall_at_10(spark: SparkSession, sf_dir: str, rows: list) -> dict:
    """recall@10 of an approximate result vs the exact top-k baseline
    (q_topk_cosine: same query vector, same filter, k=10). Used by the
    gate as the ANN quality threshold (>= 0.9 at corpus defaults).

    On the REPLICATED sweep datasets (tools/make_scaled_testdata.py —
    detected by replica-offset vec_ids) the metric is reported as
    advisory (``_info`` suffix, not thresholded): replication mutates
    vector directions by design, so recall at the FIXED gate-scale
    params measures the replication recipe, not the operator —
    ``SyncedIvfpqIndex.tune`` is the production answer for sizing
    params to a recall target on such geometry (pytest proves >= 0.9
    on a 200k near-uniform corpus), while the sweep still VALUE-checks
    these queries against their committed sf1/sf10 goldens."""
    emb = load_table(spark, sf_dir, "embeddings")
    exact = {r["vec_id"] for r in q_topk_cosine(spark, sf_dir).collect()}
    got = {r["vec_id"] for r in rows}
    recall = len(got & exact) / max(len(exact), 1)
    replicated = (
        emb.agg(F.max("vec_id")).head()[0] or 0
    ) >= 10_000_000  # make_scaled_testdata.OFFSET
    return {"recall@10_info" if replicated else "recall@10": recall}


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ann import lsh_topk, make_planes

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    # 32 tables x 8 bits (vs 16x10): shorter signatures make buckets
    # denser and doubled tables make misses independent — measured
    # recall@10 1.0 at sf0.001 AND sf0.01 (16x10 sat at 0.6); the gate
    # thresholds >= 0.9
    planes = make_planes(len(qvec), num_tables=32, bits=8)
    hits = lsh_topk(rest, qvec, 10, planes, multiprobe=1)
    return hits.orderBy(F.desc("score"), F.asc("vec_id")).select(
        "vec_id", "label", F.round("score", 4).alias("score")
    )


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) with exact re-rank:
    vectors live as m=8 one-byte codes (32× smaller than the 64-d
    floats), the query scores them with an ADC lookup table, and the
    top-100 ADC shortlist is re-ranked with exact cosine — the FAISS
    ``PQ + refine`` shape. The recall gate asserts ≥0.9 vs the exact
    top-10 per run; PQ is the memory-bound ANN layout (LSH/IVF prune
    which vectors a query touches, PQ shrinks what each one costs)."""
    from ..operators.ann import pq_encode, pq_topk, pq_train

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    cb = pq_train(rest, m=8, nbits=8)
    codes = pq_encode(rest, cb).select("vec_id", "codes")
    # shortlist 300: ADC on near-uniform synthetic vectors is at its
    # hardest (measured rerank recall 0.9 at sf0.1 with the default
    # 100); 6% of the sf0.1 corpus re-ranked exactly buys 1.0 with
    # margin while the scan stays code-only
    hits = pq_topk(codes, cb, qvec, 10, emb=rest, shortlist=300)
    return hits.orderBy(F.desc("score"), F.asc("vec_id")).select(
        "vec_id", "label", F.round("score", 4).alias("score")
    )


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed (FAISS ``IVFPQ``, Jégou et al. 2011 §IV): the
    coarse quantizer prunes WHICH vectors the query touches (8 of 16
    cells probed), residual PQ codes shrink what each touched vector
    COSTS (m=8 one-byte codes + one stored exact norm — the float
    vectors never enter the scan). Vectors are posted to their 2
    nearest cells (same recall/storage trade as ``q_ann_ivf``'s
    multi-assign — cheap here because the duplicated payload is 8
    bytes, not the vector); ADC shortlists, exact cosine re-ranks.
    Per-run recall@10 ≥ 0.9 gate, same as the LSH/IVF/PQ entries."""
    from ..operators.ann import ivfpq_build, ivfpq_encode, ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    cents, cb = ivfpq_build(rest, nlist=16, m=8, nbits=8)
    enc = ivfpq_encode(rest, cents, cb, posts=2).select(
        "vec_id", "cluster", "codes", "norm"
    )
    hits = ivfpq_topk(
        enc, cents, cb, qvec, 10, nprobe=8, emb=rest, shortlist=300
    )
    return hits.orderBy(F.desc("score"), F.asc("vec_id")).select(
        "vec_id", "label", F.round("score", 4).alias("score")
    )


def q_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (FAISS ``SQ8``): each dimension as one
    byte over per-dim [min, max] ranges fit on a bounded sample — the
    NEAR-EXACT compressed layout (4× smaller than float32, no
    codebook). The decode is affine, so scoring is one numpy dot of
    the integer codes against q·step plus a scalar — floats are never
    reconstructed per element. Exact re-rank of the byte-scored
    shortlist; same per-run recall@10 ≥ 0.9 gate as the rest of the
    ANN family (SQ8 measures 1.0 with the default shortlist — byte
    resolution barely perturbs the ranking)."""
    from ..operators.ann import sq8_encode, sq8_topk, sq8_train

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    rest = emb.filter(F.col("vec_id") != 0)
    vmin, vmax = sq8_train(rest)
    enc = sq8_encode(rest, vmin, vmax).select("vec_id", "codes", "norm")
    hits = sq8_topk(enc, vmin, vmax, qvec, 10, emb=rest)
    return hits.orderBy(F.desc("score"), F.asc("vec_id")).select(
        "vec_id", "label", F.round("score", 4).alias("score")
    )


# --------------------------------------------------------------------------
# F6 — paragraph semantic classification (pipeline1.py:151-162): prefix
# precedence ### > ## > # > ** > *. Pseudo-markdown is derived
# deterministically from doc_id so every class appears; the oracle
# replays the same derivation + precedence chain.
# --------------------------------------------------------------------------


def q_classify_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import classify_paragraph

    docs = load_table(spark, sf_dir, "documents")
    prefix = (
        F.when(F.col("doc_id") % 6 == 0, F.lit("### "))
        .when(F.col("doc_id") % 6 == 1, F.lit("## "))
        .when(F.col("doc_id") % 6 == 2, F.lit("# "))
        .when(F.col("doc_id") % 6 == 3, F.lit("** "))
        .when(F.col("doc_id") % 6 == 4, F.lit("* "))
        .otherwise(F.lit(""))
    )
    para = F.concat(prefix, F.col("text"))
    return docs.select(
        "doc_id",
        classify_paragraph(para).alias("semantics"),
        F.length(para).alias("n_chars"),
    )


_SQL_CLASSIFY = """
WITH paras AS (
  SELECT doc_id,
         CASE doc_id % 6 WHEN 0 THEN '### ' WHEN 1 THEN '## ' WHEN 2 THEN '# '
                         WHEN 3 THEN '** ' WHEN 4 THEN '* ' ELSE '' END || text AS para
  FROM documents)
SELECT doc_id,
       CASE WHEN starts_with(para, '###') THEN 'Heading3'
            WHEN starts_with(para, '##') THEN 'Heading2'
            WHEN starts_with(para, '#') THEN 'Heading1'
            WHEN starts_with(para, '**') THEN 'Bold'
            WHEN starts_with(para, '*') THEN 'Bullet'
            ELSE 'Paragraph' END AS semantics,
       length(para) AS n_chars
FROM paras
"""


# --------------------------------------------------------------------------
# F5/F7 — markdown table strip + nougat unescape as native regexp_replace
# chains. Synthetic LaTeX wrapping is derived from doc_id so the strip has
# real work; both engines run the same non-greedy patterns.
# --------------------------------------------------------------------------


def q_markdown_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import clean_markdown

    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.lit("\\begin{table} x\n\\begin{tabular}{ll} y\n"),
            F.col("text"),
            F.lit("\n\\end{tabular} z\n\\end{table} w\n+++ warning body +++ tail"),
        ),
    ).otherwise(F.col("text"))
    docs = docs.select("doc_id", wrapped.alias("wrapped"))
    return docs.select(
        "doc_id", F.length(clean_markdown(F.col("wrapped"))).alias("clean_len")
    )


_SQL_MARKDOWN_CLEAN = r"""
WITH wrapped AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN
           '\begin{table} x' || chr(10) || '\begin{tabular}{ll} y' || chr(10)
           || text || chr(10) || '\end{tabular} z' || chr(10)
           || '\end{table} w' || chr(10) || '+++ warning body +++ tail'
         ELSE text END AS wrapped
  FROM documents)
SELECT doc_id,
       length(
         regexp_replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(wrapped, '\\begin\{table\}.*?' || chr(10), chr(10), 'g'),
                 '\\end\{table\}.*?' || chr(10), chr(10), 'g'),
               '\\begin\{tabular\}.*?' || chr(10), chr(10), 'g'),
             '\\end\{tabular\}.*?' || chr(10), chr(10), 'g'),
           '\+\+\+(.*?)\+\+\+', chr(10), 'gs')
       ) AS clean_len
FROM wrapped
"""


# --------------------------------------------------------------------------
# F7/F8/F9 — string munging trio: nougat unescape, pdf filename from URL,
# form name from object path. Inputs derived from doc_id/source so the
# regexes have real work; all native regexp expressions, fully oracled.
# --------------------------------------------------------------------------


def q_string_munging(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import (
        filename_from_url,
        form_name_from_path,
        unescape_nougat,
    )

    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://filings.example.com/"),
        F.col("source"),
        F.lit("/doc_"),
        F.col("doc_id"),
        # every third doc gets a non-.pdf URL → fallback path
        F.when(F.col("doc_id") % 3 == 0, F.lit("?download=1")).otherwise(
            F.lit(".pdf")
        ),
    )
    gcs_path = F.concat(
        F.lit("run42/pypdf-mmds/form_"), F.col("doc_id"), F.lit(".mmd")
    )
    escaped = F.concat(
        F.lit("line one\\n\\nline two\\nhas \\\\ slash id="), F.col("doc_id")
    )
    return docs.select(
        "doc_id",
        filename_from_url(url, F.concat(F.lit("InputPDF_"), F.col("doc_id"))).alias(
            "pdf_name"
        ),
        form_name_from_path(gcs_path).alias("form_name"),
        F.length(unescape_nougat(escaped)).alias("unescaped_len"),
    )


_SQL_STRING_MUNGING = r"""
WITH derived AS (
  SELECT doc_id,
         'https://filings.example.com/' || source || '/doc_' || doc_id
           || CASE WHEN doc_id % 3 = 0 THEN '?download=1' ELSE '.pdf' END AS url,
         'run42/pypdf-mmds/form_' || doc_id || '.mmd' AS gcs_path,
         'line one\n\nline two\nhas \\ slash id=' || doc_id AS escaped
  FROM documents)
SELECT doc_id,
       coalesce(nullif(regexp_extract(url, '/([^/]+\.pdf)$', 1), ''),
                'InputPDF_' || doc_id) AS pdf_name,
       regexp_replace(string_split(gcs_path, '/')[-1],
                      '\.[A-Za-z0-9]+$', '') AS form_name,
       length(
         regexp_replace(
           regexp_replace(
             regexp_replace(escaped, '\\n\\n', chr(10) || chr(10), 'g'),
             '\\n', chr(10), 'g'),
           '\\\\', '\\', 'g')
       ) AS unescaped_len
FROM derived
"""


# --------------------------------------------------------------------------
# Token counting (F1 family). Whitespace counts are native expressions
# (SQL-oracled); the BPE-ish pre-tokenizer needs lookahead regex → pandas
# UDF, RE2-less DuckDB can't mirror it → rows-only + golden pytest.
# --------------------------------------------------------------------------


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        token_count_col(F.col("text")).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
    )


_SQL_TOKEN_COUNTS = """
SELECT doc_id,
       len(regexp_extract_all(text, '\\S+')) AS n_tokens,
       len(list_distinct(string_split_regex(trim(text), '\\s+'))) AS n_distinct_tokens,
       length(text) AS n_chars
FROM documents
"""


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import bpe_token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", bpe_token_count(F.col("text")).alias("bpe_tokens"))


def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 as a batch query: deterministic hashing embedder over documents;
    output is the shape+norm summary (vectors themselves aren't SQL)."""
    from ..functions.embedding import HashingEmbedder, embed_column
    from ..functions.similarity import l2_norm

    docs = load_table(spark, sf_dir, "documents")
    embedded = embed_column(docs, "text", HashingEmbedder(dim=64), out_col="emb")
    return embedded.select(
        "doc_id",
        F.size("emb").alias("dim"),
        F.round(l2_norm(F.col("emb")), 4).alias("norm"),
    )


# --------------------------------------------------------------------------
# Language ID (pandas UDF heuristic; rows-only — the documents table has
# a ground-truth lang column, so the pytest suite checks accuracy).
# --------------------------------------------------------------------------


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.textfns import lang_id

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id(F.col("text")).alias("predicted_lang"))


def _lang_id_oracle() -> str:
    """DuckDB replica of the ``lang_id`` heuristic (textfns._LANG_MARKERS):
    per-language stopword hits over the whitespace token set (character
    occurrence counts for zh), argmax with FIRST-WINS ties in marker-dict
    order and 'und' when nothing hits — exactly the pandas UDF's
    strictly-greater scan. Generated from the same marker table so the
    two can never drift."""
    from ..functions.textfns import _LANG_MARKERS

    score_exprs = []
    for lang, markers in _LANG_MARKERS.items():
        if lang == "zh":
            terms = " + ".join(
                f"(length(text) - length(replace(text, '{ch}', '')))"
                for ch in markers
            )
        else:
            terms = " + ".join(
                f"list_contains(toks, '{m}')::INT" for m in markers
            )
        score_exprs.append(f"({terms}) AS s_{lang}")
    langs = list(_LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cascade = " ".join(f"WHEN s_{lang} = g THEN '{lang}'" for lang in langs)
    return f"""
WITH t AS (
  SELECT doc_id, text,
         string_split_regex(lower(text), '\\s+') AS toks
  FROM documents),
s AS (SELECT doc_id, {", ".join(score_exprs)} FROM t),
g AS (SELECT *, {best} AS g FROM s)
SELECT doc_id,
       CASE WHEN g IS NULL OR g = 0 THEN 'und' {cascade} END AS predicted_lang
FROM g
"""


# --------------------------------------------------------------------------
# Multimodal plumbing as a corpus query: documents' utf-8 bytes stand in
# for media payloads; decode (FakeCodec) → feature extraction. Rows-only —
# the decode is the documented deterministic fake; schemas/batch shapes
# are the thing under test (tests/test_multimodal.py golden-checks them).
# --------------------------------------------------------------------------


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import decode_images, image_features

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "utf-8").alias("content"),
        F.lit(16).alias("width"),
        F.lit(16).alias("height"),
        F.lit(None).cast("int").alias("sample_rate"),
        F.lit(None).cast("long").alias("duration_ms"),
        F.lit("application/octet-stream").alias("mime"),
    )
    feats = image_features(decode_images(media), bins=8)
    return feats.select(
        "media_id",
        F.size("feature").alias("dim"),
        F.round(F.element_at("feature", 1), 4).alias("f0"),
    )


# --------------------------------------------------------------------------
# Relational breadth, batch 2 — classic warehouse shapes the serving layer
# inherits for free once plans are declarative (SURVEY §7.1 step 6). Each
# filter sits directly on the scan (Parquet pushdown); joins broadcast the
# dimension side; single-pass conditional aggregation instead of self-joins.
# --------------------------------------------------------------------------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight range predicates + one global aggregate.
    The whole WHERE clause reaches the parquet scan as PushedFilters;
    at 100 TB this is the difference between a full read and a
    row-group-pruned one."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            _cents_sum(F.col("l_extendedprice") * F.col("l_discount"), 4),
            2,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


_SQL_FORECAST_REVENUE = """
SELECT round((sum((l_extendedprice*l_discount)::DECIMAL(18,4)))::DOUBLE, 2) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-to-fact join + conditional counts in one
    aggregation pass (no per-priority self-joins)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_priority_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_priority_count"),
        )
        .orderBy("l_linestatus")
    )


_SQL_SHIPMODE_PRIORITY = """
SELECT l_linestatus,
       (sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END))::BIGINT AS high_priority_count,
       (sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END))::BIGINT AS low_priority_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dimension join + conditional-ratio
    aggregate computed in a single pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    part = load_table(spark, sf_dir, "part")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc_price).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            # corpus-wide (ungrouped) s=4 sums cross the 2^53 scaled-long
            # bound around sf~17; decimal accumulators keep the ratio
            # exact at any scale factor
            F.round(
                (
                    F.lit(100.0)
                    * F.sum(promo.cast("decimal(18,4)")).cast("double")
                )
                / F.sum(disc_price.cast("decimal(18,4)")).cast("double"),
                4,
            ).alias("promo_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SQL_PROMO_REVENUE = """
SELECT round(100.0 * (sum(CASE WHEN p_type = 'PROMO'
                              THEN (l_extendedprice*(1-l_discount))::DECIMAL(18,4)
                              ELSE 0::DECIMAL(18,4) END))::DOUBLE
             / (sum((l_extendedprice*(1-l_discount))::DECIMAL(18,4)))::DOUBLE, 4) AS promo_pct,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-03-01' AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered aggregate feeding a join — the
    aggregate runs first so only qualifying orderkeys reach the join
    (semi-join-sized probe, not the whole fact table)."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(_cents_sum(F.col("l_quantity")), 2).alias("sum_qty"))
        .filter(F.col("sum_qty") > 200)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_name", "c_custkey", "l_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.desc("o_totalprice"), "l_orderkey")
        .limit(100)
    )


_SQL_LARGE_ORDERS = """
WITH big AS (
  SELECT l_orderkey, round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 2) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING round((sum(l_quantity::DECIMAL(18,2)))::DOUBLE, 2) > 200
)
SELECT c_name, c_custkey, l_orderkey, o_totalprice, sum_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, l_orderkey LIMIT 100
"""


# --------------------------------------------------------------------------
# Event analytics, batch 2 — funnel + cohort retention (the shapes a
# training-data/product pipeline runs over an events stream). Stage
# tables are per-user aggregates, so each level is one shuffle on
# user_id and the per-stage joins reuse that same partitioning.
# --------------------------------------------------------------------------


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase: each stage keeps users
    whose first qualifying event happens strictly after the prior
    stage's.

    ONE shuffle total: a single groupBy(user_id) collects the min view
    ts plus sorted click/purchase ts arrays, and the stage ordering
    (first click after first view, first purchase after that click)
    resolves with array higher-order functions on the 1-row-per-user
    result — vs the naive three join+agg rounds (5 shuffles). Per-user
    arrays stay bounded (a user's own events), so executor memory is
    safe at any corpus scale."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("tv"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "click", F.col("ts")))
        ).alias("clicks"),
        F.sort_array(
            F.collect_list(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("purchases"),
    )
    tc = F.array_min(F.filter("clicks", lambda x: x > F.col("tv")))
    staged = per_user.withColumn("tc", tc).withColumn(
        "tp", F.array_min(F.filter("purchases", lambda x: x > F.col("tc")))
    )
    return staged.agg(
        F.count("tv").alias("n_view"),
        F.count("tc").alias("n_view_click"),
        F.count("tp").alias("n_full_funnel"),
    )


_SQL_EVENT_FUNNEL = """
WITH v AS (SELECT user_id, min(ts) AS tv FROM events WHERE event_type = 'view' GROUP BY user_id),
     c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e JOIN v ON e.user_id = v.user_id
           WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
     p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e JOIN c ON e.user_id = c.user_id
           WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
SELECT (SELECT count(*) FROM v) AS n_view,
       (SELECT count(*) FROM c) AS n_view_click,
       (SELECT count(*) FROM p) AS n_full_funnel
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users bucketed by first-seen week,
    counted in each subsequent activity week. Day arithmetic is kept to
    integer datediffs so both engines agree exactly."""
    from ..runtime import register_materialized

    ev = load_table(spark, sf_dir, "events")
    epoch = F.lit("2024-01-01")
    # ONE events pass: the distinct (user, day) table feeds both the
    # cohort derivation and the activity join. first_day derives from
    # it exactly — to_date(min(ts)) == min(to_date(ts)) since the date
    # cast is monotonic in ts (the before-plan scanned events twice:
    # once for the per-user min, once for the distinct)
    days = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    register_materialized(days)
    first = days.groupBy("user_id").agg(
        F.floor(F.datediff(F.min("day"), F.to_date(epoch)) / 7).alias(
            "cohort_week"
        ),
        F.min("day").alias("first_day"),
    )
    return (
        days.join(first, "user_id")
        .withColumn(
            "week_offset", F.floor(F.datediff(F.col("day"), F.col("first_day")) / 7)
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


_SQL_RETENTION_COHORTS = """
WITH first AS (
  SELECT user_id,
         CAST(floor(date_diff('day', DATE '2024-01-01', min(ts)::DATE) / 7.0) AS BIGINT) AS cohort_week,
         min(ts)::DATE AS first_day
  FROM events GROUP BY user_id
), days AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events)
SELECT cohort_week,
       CAST(floor(date_diff('day', first_day, day) / 7.0) AS BIGINT) AS week_offset,
       count(DISTINCT user_id) AS n_users
FROM days JOIN first USING (user_id)
GROUP BY cohort_week, CAST(floor(date_diff('day', first_day, day) / 7.0) AS BIGINT)
ORDER BY cohort_week, week_offset
"""


# --------------------------------------------------------------------------
# Arbitrary GROUPING SETS (beyond rollup/cube) through the SQL entry
# path — one ANSI text, both engines.
# --------------------------------------------------------------------------

_SQL_GROUPING_SETS_TEXT = """
SELECT n_name, c_mktsegment,
       CAST(grouping(n_name) AS INT) AS g_nation,
       CAST(grouping(c_mktsegment) AS INT) AS g_segment,
       count(*) AS n,
       round((sum(CAST(c_acctbal AS DECIMAL(18,2))))::DOUBLE, 2) AS total_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY GROUPING SETS ((n_name, c_mktsegment), (n_name), ())
"""

_SQL_GROUPING_SETS_SPARK = _SQL_GROUPING_SETS_TEXT.replace(
    "(sum(CAST(c_acctbal AS DECIMAL(18,2))))::DOUBLE",
    "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)",
)


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with grouping() markers — Catalyst expands to a
    single Expand + hash aggregate (one shuffle for all three levels,
    not one scan per level)."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir, tables=("customer", "nation"))
    return spark.sql(_SQL_GROUPING_SETS_SPARK)


def q_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregates) with an explicit composite
    tiebreak — acctbal carries duplicates, so the ordering key folds the
    unique custkey in; both engines then agree deterministically."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # composite struct tiebreak (acctbal, then unique custkey): collision-free
    # at any scale factor, unlike a fixed-multiplier fold of the two keys
    ordkey = "struct(c_acctbal, c_custkey)"
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.expr(f"max_by(c_name, {ordkey})").alias("richest"),
            F.expr(f"min_by(c_name, {ordkey})").alias("poorest"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
        .orderBy("n_name")
    )


_SQL_MINMAX_BY = """
SELECT n_name,
       first(c_name ORDER BY c_acctbal DESC, c_custkey DESC) AS richest,
       first(c_name ORDER BY c_acctbal ASC, c_custkey ASC) AS poorest,
       round(max(c_acctbal), 2) AS max_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group (corr) — single-pass co-moment
    aggregation, map-side partials."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
            F.round(F.corr("l_discount", "l_tax"), 4).alias("disc_tax_corr"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


_SQL_CORR_STATS = """
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
       round(corr(l_discount, l_tax), 4) AS disc_tax_corr,
       count(*) AS n
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


# --------------------------------------------------------------------------
# TPC-H shapes batch 3 — scalar/correlated subqueries, OR-of-ANDs
# pushdown, count-distribution histograms, nation-pair volume and
# market-share ratios (Q7/Q8/Q11/Q13/Q15/Q17/Q19/Q22 adapted to the
# testdata's columns).
# --------------------------------------------------------------------------


def q_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose lineitem value exceeds a fraction of
    the GLOBAL total — scalar aggregate joined back via a 1-row
    broadcast cross join, so the big agg shuffles once and the
    threshold costs nothing extra."""
    li = load_table(spark, sf_dir, "lineitem")
    # sums carried as exact long cents; the threshold compare happens on
    # the same fl(value) > fl(total)*0.0005 doubles the decimal plan (and
    # the DuckDB oracle) produces, since fl(cents/100) == fl(decimal sum)
    from ..runtime import register_materialized

    # per-part sums carried as LONG cents (not the /100 double) so the
    # global total can be re-derived exactly: long sums associate, so
    # sum(per-part cents) == the straight-off-the-scan cents total
    # bit-for-bit, while lineitem is scanned ONCE (the round-9
    # before-plan scanned it twice — the total had its own full-scan
    # aggregate subtree)
    per_cents = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100.0, 0).cast("long")).alias(
            "cents"
        )
    ).localCheckpoint(eager=False)
    register_materialized(per_cents)
    per_part = per_cents.select(
        "l_partkey", (F.col("cents") / F.lit(100.0)).alias("value_d")
    )
    total = per_cents.agg(
        (F.sum("cents") / F.lit(100.0)).alias("total_d")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value_d") > F.col("total_d") * 0.0005)
        .select(
            "l_partkey",
            F.round(F.col("value_d"), 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
        .limit(100)
    )


_SQL_PART_VALUE_SHARE = """
WITH per_part AS (
  SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS value_dec
  FROM lineitem GROUP BY l_partkey)
SELECT l_partkey, round(value_dec::DOUBLE, 2) AS part_value
FROM per_part
WHERE value_dec > (SELECT sum(value_dec) FROM per_part) * 0.0005
ORDER BY part_value DESC, l_partkey
LIMIT 100
"""


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems below half their part's
    average quantity. Decorrelated as a per-part window avg (exact —
    integral doubles sum exactly): ONE exchange of the 3 needed columns
    keyed by partkey, versus the agg + join-back plan that shuffles
    lineitem twice and can't reuse the exchange (different projections;
    measured 1.4× slower at sf1)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    return (
        li.select("l_partkey", "l_quantity", "l_extendedprice")
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("avg_qty") * 0.5)
        .agg(
            F.round(_cents_sum(F.col("l_extendedprice")) / 7.0, 2)
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SQL_SMALL_QTY_REVENUE = """
SELECT round((sum(CAST(l_extendedprice AS DECIMAL(18,2))) / 7.0)::DOUBLE, 2)
         AS avg_yearly,
       count(*) AS n_items
FROM lineitem l
WHERE l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem
                    WHERE l_partkey = l.l_partkey)
"""


def q_or_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs over brand/size/quantity. The
    single-table conjuncts (quantity ceiling, size floor) are factored
    OUT of the OR so Parquet still gets a pushable range filter on each
    scan; the residual OR evaluates post-join in codegen."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 30)
    )
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") >= 1)
    cond = (
        ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 5)
         & (F.col("l_quantity") <= 11))
        | ((F.col("p_brand") == "Brand#12") & (F.col("p_size") <= 10)
           & (F.col("l_quantity").between(10, 20)))
        | ((F.col("p_brand") == "Brand#17") & (F.col("p_size") <= 15)
           & (F.col("l_quantity") >= 20))
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                _cents_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                ),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_SQL_OR_PREDICATE_REVENUE = """
SELECT round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))::DOUBLE, 2)
         AS revenue,
       count(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity BETWEEN 1 AND 30 AND p_size >= 1
  AND ((p_brand = 'Brand#3'  AND p_size <= 5  AND l_quantity <= 11)
    OR (p_brand = 'Brand#12' AND p_size <= 10 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#17' AND p_size <= 15 AND l_quantity >= 20))
"""


def q_cust_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of orders-per-customer INCLUDING
    zero-order customers (left join, count of the nullable side, then a
    count-of-counts re-aggregation — two shuffles, both partial)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") != "P"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_custs"))
        .orderBy(F.desc("n_custs"), F.desc("n_orders"))
    )


_SQL_CUST_ORDER_HISTOGRAM = """
SELECT n_orders, count(*) AS n_custs
FROM (SELECT c_custkey, count(o_orderkey) AS n_orders
      FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_orderstatus <> 'P') o
        ON c_custkey = o.o_custkey
      GROUP BY c_custkey)
GROUP BY n_orders
ORDER BY n_custs DESC, n_orders DESC
"""


def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) hitting the maximum quarterly
    revenue. The max is a 1-row aggregate broadcast back over the
    per-supplier agg — no global sort, no single-partition window."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    # revenue kept as raw integer ten-thousandths ("cents" at scale 4) so
    # the ties-with-max equality below is EXACT integer equality at any
    # magnitude — no float comparison in the filter
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.round(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 10000, 0
            ).cast("long")
        ).alias("rev_c")
    ).localCheckpoint(eager=False)  # feeds max AND the ties filter:
    # one lineitem scan+agg instead of two cloned ones
    from ..runtime import register_materialized

    register_materialized(rev)
    top = rev.agg(F.max("rev_c").alias("max_c"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev_c") == F.col("max_c"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("rev_c") / F.lit(10000.0), 2).alias("total_rev"),
        )
        .orderBy("s_suppkey")
    )


_SQL_TOP_SUPPLIER_REVENUE = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS rev_dec
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, round(rev_dec::DOUBLE, 2) AS total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_dec = (SELECT max(rev_dec) FROM rev)
ORDER BY s_suppkey
"""


def q_rich_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no RECENT
    orders (2000+) — global-avg scalar broadcast + anti join, aggregated
    per segment. The date filter sits on the orders scan (pushdown)
    before the anti join hashes its keys."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.round(_cents_sum(F.col("c_acctbal")), 2)
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


_SQL_RICH_NEVER_ORDERED = """
SELECT c_mktsegment, count(*) AS n_custs,
       round(sum(CAST(c_acctbal AS DECIMAL(18,2)))::DOUBLE, 2) AS total_bal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c.c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: revenue between two nations by ship year. The
    two nation dims broadcast; the customer/supplier joins shuffle on
    their FK — the only big exchanges are on lineitem/orders keys."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    # nation is a FIXED 25-row dimension: resolve the two nation keys at
    # plan time (2-row driver collect — bounded by construction) and
    # fold them into literal filters + a CASE name map. This matters for
    # the physical plan: a supplier/customer ⋈ nation join carries a
    # blown-up size ESTIMATE (size-only join stats are multiplicative),
    # which pushed the planner to SortMergeJoin and exchanged LINEITEM
    # on l_suppkey before AQE could demote it; plain filtered scans
    # carry accurate estimates, so both dims broadcast statically and
    # the only lineitem exchange left is the unavoidable orderkey join.
    keymap = {
        r["n_name"]: r["n_nationkey"]
        for r in nation.filter(
            F.col("n_name").isin("NATION_1", "NATION_2")
        ).collect()
    }
    # a dataset missing either nation yields the same well-defined
    # EMPTY result the join formulation produced (not a KeyError):
    # sentinel keys match no supplier/customer row
    k1 = keymap.get("NATION_1", -1)
    k2 = keymap.get("NATION_2", -2)

    def name_of(key_col):
        return F.when(key_col == k1, "NATION_1").otherwise("NATION_2")

    supp2 = supp.filter(F.col("s_nationkey").isin(k1, k2)).select(
        "s_suppkey", name_of(F.col("s_nationkey")).alias("supp_nation")
    )
    cust2 = cust.filter(F.col("c_nationkey").isin(k1, k2)).select(
        "c_custkey", name_of(F.col("c_nationkey")).alias("cust_nation")
    )
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    # reduce orders by nation-filtered customers FIRST (2/25 survive) so
    # the orderkey join sees the small side; no broadcast pin on orders
    # (it grows with SF — AQE decides at runtime)
    orders2 = orders.join(cust2, orders.o_custkey == cust2.c_custkey)
    return (
        li.join(supp2, li.l_suppkey == supp2.s_suppkey)
        .join(orders2, li.l_orderkey == orders2.o_orderkey)
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.round(
                _cents_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
                ),
                2,
            ).alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


_SQL_VOLUME_SHIPPING = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS ship_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))::DOUBLE, 2)
         AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
ORDER BY supp_nation, cust_nation, ship_year
"""


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of yearly order revenue —
    conditional decimal sums in a single partial-aggregated pass."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    target = F.when(
        F.col("n_name") == "NATION_3", F.col("o_totalprice")
    ).otherwise(F.lit(0.0))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy(F.year("o_orderdate").alias("order_year"))
        .agg(
            F.round(
                _cents_sum(target) / _cents_sum(F.col("o_totalprice")),
                6,
            ).alias("mkt_share")
        )
        .orderBy("order_year")
    )


_SQL_MARKET_SHARE = """
SELECT CAST(year(o_orderdate) AS INT) AS order_year,
       round(sum(CASE WHEN n_name = 'NATION_3'
                      THEN CAST(o_totalprice AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END)::DOUBLE
             / sum(CAST(o_totalprice AS DECIMAL(18,2)))::DOUBLE, 6) AS mkt_share
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY year(o_orderdate) ORDER BY order_year
"""


# --------------------------------------------------------------------------
# Training-pipeline text ops batch 2 — PII redaction, vocabulary
# statistics, moving averages, date-spine gap analysis.
# --------------------------------------------------------------------------


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents. The synthetic corpus carries no natural
    PII, so the query plants a deterministic email+phone per doc first,
    then redacts with `functions.textfns.redact_pii` and reports per-
    source hit counts and byte deltas — all native regexp expressions,
    zero Python. Redaction is restricted to the email+phone patterns —
    exactly what the SQL oracle applies — so byte parity holds even on
    a corpus whose text contains SSN/card-shaped digit runs."""
    from ..functions.textfns import PII_PATTERNS, pii_hit_counts, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    planted = docs.withColumn(
        "dirty",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-867-5309 ref "),
            F.col("doc_id").cast("string"),
        ),
    )
    hits = pii_hit_counts(F.col("dirty"))
    return (
        planted.withColumn(
            "clean", redact_pii(F.col("dirty"), patterns=PII_PATTERNS[:2])
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(hits["emails"]).alias("emails"),
            F.sum(hits["phones"]).alias("phones"),
            F.sum(F.length("dirty") - F.length("clean")).alias("bytes_removed"),
        )
        .orderBy("source")
    )


_SQL_PII_REDACTION = r"""
WITH planted AS (
  SELECT source,
         text || ' contact u' || doc_id || '@example.com or 555-867-5309 ref ' || doc_id
           AS dirty
  FROM documents),
clean AS (
  SELECT source, dirty,
         regexp_replace(
           regexp_replace(dirty, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                          '<EMAIL>', 'g'),
           '\b(?:\+?1[ .-]?)?(?:\(\d{3}\)|\d{3})[ .-]?\d{3}[ .-]?\d{4}\b',
           '<PHONE>', 'g') AS cleaned
  FROM planted)
SELECT source, count(*) AS n_docs,
       CAST(sum(len(regexp_extract_all(dirty,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))) AS BIGINT) AS emails,
       CAST(sum(len(regexp_extract_all(dirty,
             '\b(?:\+?1[ .-]?)?(?:\(\d{3}\)|\d{3})[ .-]?\d{3}[ .-]?\d{4}\b'))) AS BIGINT)
         AS phones,
       CAST(sum(len(dirty) - len(cleaned)) AS BIGINT) AS bytes_removed
FROM clean GROUP BY source ORDER BY source
"""


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: token volume, distinct types,
    hapax legomena, type-token ratio. explode→two-level agg; the token
    explosion happens AFTER the source column is attached, so the heavy
    shuffle keys on (source, token) — partial-aggregatable and
    skew-resistant (tokens distribute within each source)."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.text_search import tokens_expr

    tokens = docs.select(
        "source", F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    per_token = tokens.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    return (
        per_token.groupBy("source")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.when(F.col("tf") == 1, 1).otherwise(0)).alias("hapax"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.sum("tf").cast("double"), 6
            ).alias("ttr"),
        )
        .orderBy("source")
    )


_SQL_VOCAB_STATS = r"""
WITH tokens AS (
  SELECT source, t.token
  FROM documents,
       unnest(string_split_regex(lower(text), '\s+')) AS t(token)
  WHERE t.token <> ''),
per_token AS (
  SELECT source, token, count(*) AS tf FROM tokens GROUP BY source, token)
SELECT source,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       round(count(*)::DOUBLE / sum(tf)::DOUBLE, 6) AS ttr
FROM per_token GROUP BY source ORDER BY source
"""


def q_skewed_agg_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated per-user aggregation through ``salted_agg``
    (operators/skew.py): stage 1 aggregates (user_id, salt) partials so
    a hot user fans out over 16 reducers, stage 2 merges partials per
    user — exact for algebraic aggregates, oracle-hash-identical to the
    plain GROUP BY.

    Scope note (why word_topk/vocab_stats/unigram_logprob are NOT
    salted): a plain ``groupBy().count()/sum()`` after explode already
    has Spark's map-side partial aggregation — each mapper collapses
    its local copies of the hot token to ONE partial row, which is the
    same two-level topology salting builds by hand, minus an extra
    exchange. Salting pays off only where partials can't collapse
    (e.g. per-key DISTINCT buffers) or partial agg is disabled."""
    from ..operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("__cents", F.round(F.col("value") * 100, 0).cast("long"))
    agg = salted_agg(
        ev,
        ["user_id"],
        {"n_events": ("count", "*"), "cents": ("sum", "__cents")},
        num_salts=16,
    )
    return (
        agg.select(
            "user_id",
            "n_events",
            F.round(F.col("cents") / 100.0, 2).alias("total_value"),
        )
        .orderBy(F.desc("n_events"), F.asc("user_id"))
        .limit(100)
    )


_SQL_SKEWED_AGG = """
SELECT user_id, count(*) AS n_events,
       round((sum(value::DECIMAL(18,2)))::DOUBLE, 2) AS total_value
FROM events GROUP BY user_id
ORDER BY n_events DESC, user_id LIMIT 100
"""


def q_moving_avg_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing moving average of daily order revenue. Daily sums
    are carried as integer CENTS through the window (exact at any
    order), converted to dollars only at presentation — the float
    division is a single op both engines round identically."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .alias("cents")
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        "day",
        F.round(F.col("cents") / 100.0, 2).alias("revenue"),
        F.round(F.sum("cents").over(w) / (100.0 * F.count("cents").over(w)), 2)
        .alias("ma7"),
    ).orderBy("day")


_SQL_MOVING_AVG_REVENUE = """
WITH daily AS (
  SELECT o_orderdate::DATE AS day,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents
  FROM orders GROUP BY o_orderdate::DATE)
SELECT day,
       round(cents / 100.0, 2) AS revenue,
       round(sum(cents) OVER w / (100.0 * count(cents) OVER w), 2) AS ma7
FROM daily
WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
ORDER BY day
"""


def q_event_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over a sparse event stream: which calendar days
    in the observed span saw NO qualifying event, and how do the gap
    days cluster into runs. Spine = sequence() over the [min,max] day
    range (a few thousand rows — exploded on the driver-side 1-row agg,
    broadcast onward); islands via the classic day_number − row_number
    constant-group trick."""
    from ..runtime import register_materialized

    events = load_table(spark, sf_dir, "events")
    # ONE events pass: a per-observed-day rollup carries a qualifying
    # flag; the span (min/max day) and the active-day set both derive
    # from its day-scale rows (the before-plan scanned events twice —
    # once for the span aggregate, once for the filtered distinct).
    # to_date(min(ts)) == min(to_date(ts)): the date cast is monotonic.
    per_day = (
        events.groupBy(F.to_date("ts").alias("day"))
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("value") > 99.8),
                    1,
                ).otherwise(0)
            ).alias("has_q")
        )
        .localCheckpoint(eager=False)
    )
    register_materialized(per_day)
    span = per_day.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = span.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    active = per_day.filter(F.col("has_q") == 1).select("day")
    gaps = spine.join(active, "day", "left_anti")
    w = Window.orderBy("day")
    runs = (
        gaps.withColumn("rn", F.row_number().over(w))
        .withColumn("grp", F.date_sub(F.col("day"), F.col("rn")))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
    )
    return runs.agg(
        F.sum("run_len").alias("n_gap_days"),
        F.count(F.lit(1)).alias("n_gap_runs"),
        F.max("run_len").alias("longest_run"),
    )


_SQL_EVENT_GAP_ISLANDS = """
WITH span AS (SELECT min(ts)::DATE AS d0, max(ts)::DATE AS d1 FROM events),
spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
          FROM span),
active AS (SELECT DISTINCT ts::DATE AS day FROM events
           WHERE event_type = 'purchase' AND value > 99.8),
gaps AS (SELECT day FROM spine WHERE day NOT IN (SELECT day FROM active)),
runs AS (
  SELECT day - CAST(row_number() OVER (ORDER BY day) AS INT) AS grp FROM gaps)
SELECT CAST(sum(run_len) AS BIGINT) AS n_gap_days,
       count(*) AS n_gap_runs,
       max(run_len) AS longest_run
FROM (SELECT grp, count(*) AS run_len FROM runs GROUP BY grp)
"""


# --------------------------------------------------------------------------
# Retrieval: BM25 keyword scoring + hybrid keyword/vector fusion — the
# lexical other half of the reference's vector-only QA search
# (QA_using_pinecone.py:31-48), and a second streaming gate entry
# (watermarked exactly-once dedup of a redelivered stream).
# --------------------------------------------------------------------------

_BM25_TERMS = ("spark", "window", "join")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for a fixed query-term bag. Native end-to-end:
    document-local tf/dl in one codegen pass, zero wide shuffles;
    df/avgdl/N arrive as a 1-row broadcast. Ordering uses the ROUNDED
    score so sub-ulp ln() differences between engines cannot reorder
    the cut."""
    from ..operators.text_search import bm25_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = bm25_scores(docs, _BM25_TERMS)
    return (
        scored.select(
            "doc_id", F.round("score", 4).alias("bm25")
        )
        .orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


_SQL_BM25 = r"""
WITH dl AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS dl
  FROM documents),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(token)
  WHERE t.token IN ('spark', 'window', 'join')),
tf AS (SELECT doc_id, token, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * (1.2 + 1)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ) AS score
  FROM tf
  JOIN df USING (token)
  JOIN dl USING (doc_id)
  CROSS JOIN stats
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 4) AS bm25
FROM sc ORDER BY bm25 DESC, doc_id LIMIT 20
"""


def q_text_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental derived-index maintenance through the correctness
    gate (round-4 verdict ask #1): build the persisted BM25 index from
    a PARTIAL corpus snapshot (every source but src3), commit the
    missing source into the primary VectorIndex, ``refresh()`` — which
    re-encodes ONLY the changed title's rows into a new segment — and
    serve top-20 BM25 from the index. The oracle scores the FULL
    corpus directly: hash-equality proves the incrementally-refreshed
    index is indistinguishable from a from-scratch build (df, N, avgdl
    all reflect the live corpus). The reference's Pinecone keeps data
    and index in one upsert (pipeline2.py:117-150); this is that
    contract on the manifest-versioned store.

    Cost profile: ~11 s wall at BOTH sf0.01 and sf0.1 — at gate scales
    the time is ~10 sequential commit/build Spark actions (two
    manifest commits, two segment builds, stats), each
    job-floor-bound (the streaming-drain cost character). At sf10+
    the postings/doclens WRITES dominate instead, as index
    construction should — note the oracle only runs the query side,
    so this row's ratio compares build+refresh+query against
    query-only by design; the serve-only plan is the pruned-postings
    shape pinned in PLANS.md."""
    import shutil
    import tempfile

    from ..operators.index_maintenance import VectorIndex
    from ..operators.index_sync import SyncedTextIndex

    # title = 4 coarse source groups (write-width control: partitioned
    # writes cost per-directory; the sync contract is per-TITLE, so 4
    # titles demo it as well as 20 while the gate query stays cheap)
    from ..runtime import register_materialized

    # the maintenance flow touches this projection from ~6 separate
    # actions (two upserts' agg+merge+write, two segment builds);
    # checkpointing it once replaces six parquet scans+projections
    docs = (
        load_table(spark, sf_dir, "documents")
        .select(
            F.col("doc_id").cast("string").alias("id"),
            F.array(F.lit(0.0).cast("float")).alias("vector"),
            F.concat(
                F.lit("g"), F.pmod(F.crc32(F.col("source")), F.lit(4))
            ).alias("title"),
            "text",
        )
        .localCheckpoint(eager=False)
    )
    register_materialized(docs)
    tmp = tempfile.mkdtemp(prefix="sgraft_tix_inc_")
    try:
        vi = VectorIndex(spark, f"{tmp}/primary")
        vi.upsert(docs.filter(F.col("title") != "g3"))
        tix = SyncedTextIndex(vi, f"{tmp}/tix", buckets=8)
        tix.build()
        vi.upsert(docs.filter(F.col("title") == "g3"))
        tix.refresh()
        out = (
            tix.bm25(list(_BM25_TERMS))
            .select(
                F.col("id").cast("bigint").alias("doc_id"),
                F.round("score", 4).alias("bm25"),
            )
            .orderBy(F.desc("bm25"), F.asc("doc_id"))
            .limit(20)
        )
        rows = out.collect()  # materialize before the temp dir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 rank list ⊕ cosine rank list fused with
    reciprocal-rank fusion (1/(60+r)). Ranks come from unpartitioned
    row_number over each ranker's candidates — at corpus scale the
    inputs would be each ranker's top-k shortlist, same plan shape."""
    from ..functions.similarity import cosine_sim, query_vector_lit
    from ..operators.text_search import bm25_scores, rank_by, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    bm = rank_by(
        bm25_scores(docs, _BM25_TERMS).select(
            "doc_id", F.round("score", 4).alias("s")
        ),
        [F.desc("s"), F.asc("doc_id")],
    ).select("doc_id", "rank")
    vec = rank_by(
        emb.filter(F.col("vec_id") != 0).select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_sim(F.col("embedding"), query_vector_lit(qvec)), 6
            ).alias("cos"),
        ),
        [F.desc("cos"), F.asc("doc_id")],
    ).select("doc_id", "rank")
    return (
        rrf_fuse(bm, vec)
        .select(
            "doc_id",
            "rank_a",
            "rank_b",
            F.round("rrf", 6).alias("rrf"),
        )
        .orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(15)
    )


_SQL_HYBRID_RRF = r"""
WITH dl AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS dl
  FROM documents),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(token)
  WHERE t.token IN ('spark', 'window', 'join')),
tf AS (SELECT doc_id, token, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         round(sum( ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
              * tf.tf * (1.2 + 1)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 4) AS s
  FROM tf JOIN df USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id),
bm AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank_a FROM sc),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (
           ORDER BY round(list_cosine_similarity(embedding::DOUBLE[],
                                                 (SELECT qv FROM q)), 6) DESC,
                    vec_id) AS rank_b
  FROM embeddings WHERE vec_id <> 0)
SELECT COALESCE(bm.doc_id, vec.doc_id) AS doc_id, rank_a, rank_b,
       round(COALESCE(1.0 / (60 + rank_a), 0) + COALESCE(1.0 / (60 + rank_b), 0), 6)
         AS rrf
FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id
ORDER BY rrf DESC, doc_id LIMIT 15
"""


# MMR gate parameters: 4 query vectors, 24-candidate pools, pick 10
# with lam = 0.7. Small numbers keep the oracle cheap; the operator's
# scale story is per-query-bounded work distributed over query_id.
_MMR_NQ, _MMR_POOL, _MMR_K, _MMR_LAM = 4, 24, 10, 0.7


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity re-ranking (MMR, Carbonell & Goldstein SIGIR'98) of
    per-query cosine shortlists — the missing step between the
    reference's raw top-k (``QA_using_pinecone.py:31-48``) and a
    context window that isn't k near-duplicates of one chunk.

    Batch shape: vec_id < 4 act as 4 concurrent queries, the rest as
    the corpus. Pool (top-24 by rounded cosine) and intra-pool pairs
    are built by native Catalyst expressions — the gate-proven
    Spark↔DuckDB-equal path — then a cogrouped ``applyInPandas``
    greedy (one shuffle per side, keyed on query_id) picks 10 per
    query. At 100 TB: pools come from the ANN index's batch top-N and
    the cogroup distributes over millions of queries; per-query work
    stays O(k·N) with N bounded."""
    from ..operators.rerank import mmr_pairs, mmr_pool, mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cands = emb.filter(F.col("vec_id") >= _MMR_NQ).select(
        F.col("vec_id").alias("doc_id"), F.col("embedding").alias("vector")
    )
    pool = mmr_pool(queries, cands, pool_size=_MMR_POOL)
    pool = pool.localCheckpoint(eager=False)  # reused by pairs + greedy
    from ..runtime import register_materialized

    register_materialized(pool)
    pairs = mmr_pairs(pool)
    out = mmr_rerank(pool, pairs, k=_MMR_K, lam=_MMR_LAM)
    return out.orderBy("query_id", "step")


def _mmr_oracle_sql(
    n_queries: int = _MMR_NQ,
    k: int = _MMR_K,
    pool: int = _MMR_POOL,
    lam: float = _MMR_LAM,
) -> str:
    """Unrolled-greedy MMR oracle: k chained CTE steps, each picking
    the per-query argmax of lam*rel − (1−lam)*max-sim-to-selected via
    QUALIFY. Materialized CTEs keep the chain linear (the naive form
    inlines exponentially). Literals `0.7`/`0.3` parse to the same
    doubles the operator re-derives from decimal text, and every
    similarity is rounded to 6dp by the same rule on both engines, so
    the greedy walk is engine-independent."""
    mu = round(1.0 - lam, 10)
    parts = [
        f"""
q AS MATERIALIZED (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < {n_queries}),
c0 AS MATERIALIZED (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id >= {n_queries}),
rel0 AS MATERIALIZED (
  SELECT q.query_id, c0.doc_id, c0.v,
         round(list_cosine_similarity(c0.v, q.qv), 6) AS rel
  FROM q CROSS JOIN c0),
pool AS MATERIALIZED (
  SELECT query_id, doc_id, v, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rel DESC, doc_id) AS rn
    FROM rel0) t WHERE rn <= {pool}),
pairs AS MATERIALIZED (
  SELECT a.query_id, a.doc_id AS a, b.doc_id AS b,
         round(list_cosine_similarity(a.v, b.v), 6) AS sim
  FROM pool a JOIN pool b ON a.query_id = b.query_id AND a.doc_id <> b.doc_id),
w1 AS MATERIALIZED (
  SELECT query_id, 1 AS step, doc_id, rel AS mmr FROM pool
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY rel DESC, doc_id) = 1
)"""
    ]
    union = "SELECT query_id, doc_id FROM w1"
    for i in range(2, k + 1):
        parts.append(f"pk{i} AS MATERIALIZED ({union})")
        parts.append(
            f"""
w{i} AS MATERIALIZED (
  SELECT query_id, {i} AS step, doc_id, mmr FROM (
    SELECT p.query_id, p.doc_id,
           round({lam} * p.rel - {mu} * (
             SELECT max(pr.sim) FROM pairs pr
             WHERE pr.query_id = p.query_id AND pr.a = p.doc_id
               AND pr.b IN (SELECT doc_id FROM pk{i} x
                            WHERE x.query_id = p.query_id)
           ), 6) AS mmr
    FROM pool p
    WHERE NOT EXISTS (SELECT 1 FROM pk{i} x
                      WHERE x.query_id = p.query_id
                        AND x.doc_id = p.doc_id)) t
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY mmr DESC, doc_id) = 1
)"""
        )
        union += f" UNION ALL SELECT query_id, doc_id FROM w{i}"
    final = " UNION ALL ".join(f"SELECT * FROM w{i}" for i in range(1, k + 1))
    return (
        "WITH "
        + ",".join(parts)
        + f"\nSELECT query_id, step, doc_id, mmr FROM ({final})"
        " ORDER BY query_id, step"
    )


_SQL_MMR_RERANK = _mmr_oracle_sql()


_EVAL_K = 10


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation harness — the measurement half the
    reference's search stack lacks: score the BM25 ranking and the
    RRF-hybrid ranking against graded cosine ground truth with
    recall@10, MRR@10, nDCG@10 (one row per system).

    Truth = cosine top-10 to the vec_id-0 query vector (rank j ⇒ gain
    11−j); systems reuse the exact ranked lists the bm25_topk /
    hybrid_rrf_topk gates already pin. Metrics are one k-bounded join
    + per-system aggregate (``operators.retrieval_eval``); position
    discounts are decimal-literal doubles shared verbatim with the
    SQL oracle."""
    from ..functions.similarity import cosine_sim, query_vector_lit
    from ..operators.retrieval_eval import retrieval_metrics
    from ..operators.text_search import bm25_scores, rank_by, rrf_fuse

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]

    # bm/vec each feed two consumers, so their subtrees are cloned in
    # the plan — measured (round-9, interleaved A/B at sf0.1): cheaper
    # than localCheckpoint barriers, because both rank lists are
    # shortlist-scale by construction at every SF (at corpus scale the
    # inputs are each ranker's top-k shortlist). Left as-is.
    bm = rank_by(
        bm25_scores(docs, _BM25_TERMS).select(
            "doc_id", F.round("score", 4).alias("s")
        ),
        [F.desc("s"), F.asc("doc_id")],
    ).select("doc_id", "rank")
    vec = rank_by(
        emb.filter(F.col("vec_id") != 0).select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_sim(F.col("embedding"), query_vector_lit(qvec)), 6
            ).alias("cos"),
        ),
        [F.desc("cos"), F.asc("doc_id")],
    ).select("doc_id", "rank")
    rrf = rank_by(
        rrf_fuse(bm, vec).select("doc_id", F.round("rrf", 6).alias("r")),
        [F.desc("r"), F.asc("doc_id")],
    ).select("doc_id", "rank")

    run = bm.withColumn("system", F.lit("bm25")).unionByName(
        rrf.withColumn("system", F.lit("rrf"))
    )
    return retrieval_metrics(run, vec, k=_EVAL_K)


def _retrieval_eval_oracle_sql(k: int = _EVAL_K) -> str:
    """SQL mirror of q_retrieval_eval. The wt VALUES table carries the
    1/log2(i+1) discounts as shortest-round-trip decimal text — the
    same doubles the Spark expression embeds — so DCG terms are
    bit-identical across engines before the 6-dp round."""
    from ..operators.retrieval_eval import dcg_weight_literals

    wt_rows = ", ".join(
        f"({i + 1}, {w}::DOUBLE)"
        for i, w in enumerate(dcg_weight_literals(k))
    )
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""
WITH dl AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS dl
  FROM documents),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tok AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split_regex(lower(text), '\\s+')) AS t(token)
  WHERE t.token IN ({terms})),
tf AS (SELECT doc_id, token, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
idf AS (SELECT token, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (
  SELECT tf.doc_id,
         round(sum( ln(1 + (stats.n_docs - idf.df + 0.5) / (idf.df + 0.5))
              * tf.tf * (1.2 + 1)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl)) ), 4) AS s
  FROM tf JOIN idf USING (token) JOIN dl USING (doc_id) CROSS JOIN stats
  GROUP BY tf.doc_id),
bm AS (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rank FROM sc),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (
           ORDER BY round(list_cosine_similarity(embedding::DOUBLE[],
                                                 (SELECT qv FROM q)), 6) DESC,
                    vec_id) AS rank
  FROM embeddings WHERE vec_id <> 0),
rrf0 AS (
  SELECT COALESCE(bm.doc_id, vec.doc_id) AS doc_id,
         round(COALESCE(1.0 / (60 + bm.rank), 0)
               + COALESCE(1.0 / (60 + vec.rank), 0), 6) AS r
  FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id),
rrf AS (SELECT doc_id, row_number() OVER (ORDER BY r DESC, doc_id) AS rank FROM rrf0),
run AS (
  SELECT 'bm25' AS system, doc_id, rank FROM bm WHERE rank <= {k}
  UNION ALL
  SELECT 'rrf', doc_id, rank FROM rrf WHERE rank <= {k}),
truth AS (SELECT doc_id, ({k} + 1 - rank)::DOUBLE AS gain, rank
          FROM vec WHERE rank <= {k}),
wt(rank, w) AS (VALUES {wt_rows}),
j AS (SELECT r.system, r.rank AS sys_rank, t.gain
      FROM run r LEFT JOIN truth t USING (doc_id)),
idcg AS (SELECT sum(truth.gain * wt.w) AS v
         FROM truth JOIN wt ON wt.rank = truth.rank),
m AS (
  SELECT system,
         round(sum(CASE WHEN gain IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
               / least({k}, (SELECT count(*) FROM truth)), 6)
           AS recall_at_{k},
         round(coalesce(max(CASE WHEN gain IS NOT NULL
                                 THEN 1.0 / sys_rank END), 0), 6)
           AS mrr_at_{k},
         sum(coalesce(gain, 0) * w.w) AS dcg
  FROM j LEFT JOIN wt w ON w.rank = j.sys_rank
  GROUP BY system)
SELECT system, recall_at_{k}, mrr_at_{k},
       round(dcg / (SELECT v FROM idcg), 6) AS ndcg_at_{k}
FROM m ORDER BY system
"""


_SQL_RETRIEVAL_EVAL = _retrieval_eval_oracle_sql()


# (round 9 optimization pass: an sf_dir-keyed memo of the SQ8 range
# sidecar lived here briefly — removed. A module-level cache of
# COMPUTED data keyed on the testdata dir makes warm bench runs skip a
# corpus pass the query is supposed to price; production persists the
# quantizer sidecar through SyncedIvfpqIndex's store, not process
# globals. Each invocation derives the 64-row sidecar from parquet.)


def q_sq8_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-oracled gate for the SQ8 scalar quantizer
    (``operators/ann.py::sq8_encode``/``sq8_scores``): quantize the
    corpus to one byte per dimension, rank ALL vectors by the
    affine-decode ADC cosine, and score that ranking against the exact
    cosine ranking with recall/MRR/nDCG@10 — quantization QA as a
    first-class query (the ann_sq8_topk gate pins recall; this pins
    the quantization arithmetic by VALUE against a full SQL mirror).

    The per-dimension [min, max] ranges are computed distributed
    (posexplode + agg — 64 rows collected as the usual bounded
    sidecar) rather than via ``sq8_train``'s driver sample, so the
    oracle can reproduce them exactly. Derived fresh per invocation:
    every run prices the full quantize-and-rank pipeline from parquet
    (production amortizes this by persisting the sidecar through
    ``SyncedIvfpqIndex``'s store — not by process-global memos)."""
    import numpy as np

    from ..functions.similarity import cosine_sim, query_vector_lit
    from ..operators.ann import sq8_encode, sq8_scores
    from ..operators.retrieval_eval import retrieval_metrics
    from ..operators.text_search import rank_by

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = [float(v) for v in emb.filter(F.col("vec_id") == 0).head()["embedding"]]
    corpus = emb.filter(F.col("vec_id") != 0)

    rng_rows = (
        corpus.select(F.posexplode("embedding").alias("d", "x"))
        .groupBy("d")
        .agg(
            F.min(F.col("x").cast("double")).alias("mn"),
            F.max(F.col("x").cast("double")).alias("mx"),
        )
        .collect()
    )
    rng_rows.sort(key=lambda r: r["d"])
    vmin = np.array([r["mn"] for r in rng_rows])
    vmax = np.array([r["mx"] for r in rng_rows])

    scored = sq8_scores(sq8_encode(corpus, vmin, vmax), vmin, vmax, qvec)
    sq8_rank = rank_by(
        scored.select(
            F.col("vec_id").alias("doc_id"), F.round("score", 6).alias("s")
        ),
        [F.desc("s"), F.asc("doc_id")],
    ).select("doc_id", "rank")
    truth = rank_by(
        corpus.select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_sim(F.col("embedding"), query_vector_lit(qvec)), 6
            ).alias("cos"),
        ),
        [F.desc("cos"), F.asc("doc_id")],
    ).select("doc_id", "rank")
    run = sq8_rank.withColumn("system", F.lit("sq8"))
    return retrieval_metrics(run, truth, k=_EVAL_K)


def _sq8_fidelity_oracle_sql(k: int = _EVAL_K) -> str:
    """SQL mirror of the SQ8 encode → ADC score → rank → metrics
    pipeline. Quantization: code = clip(round((x−mn)/step), 0, 255)
    with step = (mx−mn)/255 (1.0 on degenerate dims); score =
    (q·vmin + Σ q_d·step_d·code_d) / (|q|·|x|) with the exact stored
    norm. round() here is half-away-from-zero — the SAME rule
    ``sq8_encode`` now uses (sign * floor(|x| + 0.5)), so encoder and
    oracle agree by construction, including on exact .5 quotients."""
    from ..operators.retrieval_eval import dcg_weight_literals

    wt_rows = ", ".join(
        f"({i + 1}, {w}::DOUBLE)"
        for i, w in enumerate(dcg_weight_literals(k))
    )
    return f"""
WITH q AS MATERIALIZED (
  SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
c AS MATERIALIZED (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <> 0),
dims AS MATERIALIZED (
  SELECT vec_id, unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x FROM c),
steps AS MATERIALIZED (
  SELECT i, min(x) AS mn,
         CASE WHEN max(x) > min(x) THEN (max(x) - min(x)) / 255.0
              ELSE 1.0 END AS st
  FROM dims GROUP BY i),
qd AS MATERIALIZED (
  SELECT unnest(range(1, len(qv) + 1)) AS i, unnest(qv) AS qx FROM q),
qstats AS MATERIALIZED (
  SELECT sqrt(sum(qx * qx)) AS qn, sum(qx * s.mn) AS base
  FROM qd JOIN steps s USING (i)),
adc AS MATERIALIZED (
  SELECT d.vec_id,
         sum(qd.qx * s.st
             * least(greatest(round((d.x - s.mn) / s.st), 0), 255)) AS dotc,
         sqrt(sum(d.x * d.x)) AS norm
  FROM dims d JOIN steps s USING (i) JOIN qd USING (i)
  GROUP BY d.vec_id),
sq8 AS (
  SELECT vec_id AS doc_id,
         row_number() OVER (
           ORDER BY round(CASE WHEN norm > 0
                               THEN (qs.base + dotc) / (qs.qn * norm)
                               ELSE 0 END, 6) DESC, vec_id) AS rank
  FROM adc, qstats qs),
truth AS (
  SELECT doc_id, ({k} + 1 - rank)::DOUBLE AS gain, rank FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(v, (SELECT qv FROM q)), 6)
                      DESC, vec_id) AS rank
    FROM c) t WHERE rank <= {k}),
wt(rank, w) AS (VALUES {wt_rows}),
j AS (SELECT r.rank AS sys_rank, t.gain
      FROM (SELECT * FROM sq8 WHERE rank <= {k}) r
      LEFT JOIN truth t USING (doc_id)),
idcg AS (SELECT sum(truth.gain * wt.w) AS v
         FROM truth JOIN wt ON wt.rank = truth.rank)
SELECT 'sq8' AS system,
       round(sum(CASE WHEN gain IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / least({k}, (SELECT count(*) FROM truth)), 6)
         AS recall_at_{k},
       round(coalesce(max(CASE WHEN gain IS NOT NULL
                               THEN 1.0 / sys_rank END), 0), 6)
         AS mrr_at_{k},
       round(sum(coalesce(gain, 0) * w.w) / (SELECT v FROM idcg), 6)
         AS ndcg_at_{k}
FROM j LEFT JOIN wt w ON w.rank = j.sys_rank
"""


_SQL_SQ8_FIDELITY = _sq8_fidelity_oracle_sql()


def q_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third streaming gate entry — the stream-STATIC join operator
    class: the events file stream joins the batch customer dimension
    (user_id = c_custkey) micro-batch by micro-batch, aggregates per
    market segment, and the AvailableNow complete-mode drain must equal
    the all-batch join+GROUP BY. Stream-static is THE enrichment shape
    for streaming ingest at scale (dimension lookup per micro-batch; no
    state, no watermark interplay)."""
    from ..streaming.ingest import (
        drain_shuffle_partitions,
        stream_events_table,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    stream = stream_events_table(spark, sf_dir)
    joined = stream.join(cust, stream.user_id == cust.c_custkey)
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(_cents_sum(F.col("value")), 2).alias("sum_value"),
    )
    # complete-mode agg is stateful: the drain-scoped partition count
    # applies here exactly as in the dedup/hourly drains
    with drain_shuffle_partitions(spark, source=stream):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("corpus_stream_static")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.table("corpus_stream_static")
        .select(
            "c_mktsegment",
            F.col("n_events").cast("bigint").alias("n_events"),
            "sum_value",
        )
        .orderBy("c_mktsegment")
    )


_SQL_STREAM_STATIC = """
SELECT c_mktsegment, count(*) AS n_events,
       round((sum(value::DECIMAL(18,2)))::DOUBLE, 2) AS sum_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each doc gets key = ln(u)/w with
    u ∈ (0, 1] derived from its md5 hash and w = n_chars; the top-k
    keys ARE a weighted sample without replacement. Replacing the RNG
    with the cross-engine-stable md5 derivation (same trick as
    ``_md5_bucket``) makes the sample reproducible across engines,
    re-runs, and partitionings — the property a training-data pipeline
    needs for auditable subsampling. Plan: one scan, no shuffle,
    TakeOrderedAndProject top-k. Keys are micro-rounded to nano-units
    (house ln-parity discipline) and tie-broken by doc_id."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    # u = (first-8-md5-hex + 1) / 2^32  ∈ (0, 1]
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        + 1
    ) / F.lit(4294967296.0)
    key_nano = (
        F.round(F.round(F.log(u) / F.col("n_chars"), 9) * 1e9, 0)
        .cast("long")
        .alias("key_nano")
    )
    return (
        docs.select("doc_id", "n_chars", key_nano)
        .orderBy(F.desc("key_nano"), F.asc("doc_id"))
        .limit(50)
    )


_SQL_WEIGHTED_SAMPLE = """
SELECT doc_id, n_chars,
       CAST(round(round(ln((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
                          / 4294967296.0) / n_chars, 9) * 1e9, 0) AS BIGINT) AS key_nano
FROM documents WHERE n_chars > 0
ORDER BY key_nano DESC, doc_id LIMIT 50
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1/50-frequent tokens via the Misra-Gries sketch-then-
    verify operator (operators/sketches.py) — candidates from O(1/φ)
    per-partition state, exact counts shuffled only for candidates,
    integer threshold comparison."""
    from ..operators.sketches import heavy_hitters

    docs = load_table(spark, sf_dir, "documents")
    arrays = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws")
    )
    return heavy_hitters(arrays, phi=1 / 50)


_SQL_HEAVY_HITTERS = r"""
WITH u AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
           FROM documents),
c AS (SELECT word, count(*) AS n FROM u GROUP BY word),
t AS (SELECT count(*) AS total FROM u)
SELECT word, n FROM c, t WHERE n * 50 > total
ORDER BY n DESC, word
"""


def equidepth_tiles(
    rows: DataFrame,
    value_col: str,
    tiebreak_col: str,
    *,
    k: int = 10,
) -> DataFrame:
    """EXACT equal-depth (ntile) binning, fully distributed — no
    single-task global window (the round-4 verdict's one scale-killer).

    Plan: range-repartition on the (value, tiebreak) total order, sort
    within partitions, and recover each row's GLOBAL rank as
    partition-offset + local ordinal — the classic distributed-sort
    rank construction. ``monotonically_increasing_id`` after the
    within-partition sort encodes (partition id << 33 | local ordinal),
    so no second window/shuffle is needed for the local ordinal; the
    per-partition counts reduce to ONE bounded collect (P rows, P =
    shuffle parallelism) that also yields n, and the ntile arithmetic
    (first n%k tiles hold ⌈n/k⌉ rows) is a scalar expression on the
    rank. Because the sort key is UNIQUE (tiebreak), this reproduces
    ``ntile(k) OVER (ORDER BY value, tiebreak)`` EXACTLY — same
    result the SQL oracle computes, no approximation, so the one
    implementation serves every scale (pytest pins equality against
    the window form; the narrow (value, tiebreak) projection is
    localCheckpointed so both passes read one materialization)."""
    base = (
        rows.select(value_col, tiebreak_col)
        .repartitionByRange(F.col(value_col), F.col(tiebreak_col))
        .sortWithinPartitions(value_col, tiebreak_col)
        .select(
            value_col, F.monotonically_increasing_id().alias("_mid")
        )
        .localCheckpoint(eager=True)
    )
    pid = F.shiftrightunsigned("_mid", 33).alias("pid")
    counts = sorted(
        (r["pid"], r["c"])
        for r in base.select(pid).groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    n = sum(c for _, c in counts)
    spark = rows.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [], f"decile int, n_docs bigint, lo {rows.schema[value_col].dataType.simpleString()}, hi {rows.schema[value_col].dataType.simpleString()}"
        )
    offsets, acc = {}, 0
    for p, c in counts:
        offsets[p] = acc
        acc += c
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for pc in offsets.items() for x in pc]),
        F.shiftrightunsigned("_mid", 33).cast("int"),
    )
    rank = (
        off_expr + F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1)) + 1
    ).alias("rank")
    q, rem = divmod(n, k)
    boundary = rem * (q + 1)
    r0 = F.col("rank") - 1
    if q == 0:
        decile = (r0 + 1).cast("int")
    else:
        decile = (
            F.when(r0 < boundary, F.floor(r0 / (q + 1)) + 1)
            .otherwise(rem + F.floor((r0 - boundary) / q) + 1)
            .cast("int")
        )
    return (
        base.select(value_col, rank)
        .select(value_col, decile.alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
        .orderBy("decile")
    )


def q_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-depth (ntile) decile binning of document lengths — the
    quantile-bucket complement of quality_bins' equal-width bins.
    Computed by :func:`equidepth_tiles`: distributed range-sort +
    partition-offset ranks, EXACT ntile semantics (unique doc_id
    tiebreak), no single-partition WindowExec at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return equidepth_tiles(docs, "n_chars", "doc_id", k=10)


_SQL_EQUIDEPTH_DECILES = """
SELECT decile, count(*) AS n_docs, min(n_chars) AS lo, max(n_chars) AS hi
FROM (SELECT n_chars, ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents)
GROUP BY decile ORDER BY decile
"""


def q_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(source ‖ corpus) over unigram distributions per source —
    the language-drift / domain-shift monitor for a multi-source
    training corpus. Per-term logs snap to exact integer micro-nats
    before the count-weighted sum (the unigram_logprob discipline), so
    aggregation order cannot move the result; the only doubles are the
    identically-shaped ratio trees and the final presentation divide."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    )
    # one corpus-scale explode+aggregate; every total derives from the
    # (source, word) grain, so the corpus is scanned once, not four
    # times (sc is vocab-sized: the three rollups below are cheap)
    sc = (
        toks.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    st = sc.groupBy("source").agg(F.sum("c").alias("n"))
    gc = sc.groupBy("word").agg(F.sum("c").alias("gc"))
    gt = sc.agg(F.sum("c").cast("double").alias("gt"))
    ratio = (F.col("c").cast("double") / F.col("n")) / (
        F.col("gc").cast("double") / F.col("gt")
    )
    term_micro = F.col("c") * F.round(F.round(F.log(ratio), 6) * 1e6, 0).cast(
        "long"
    )
    return (
        sc.join(st, "source")
        .join(gc, "word")
        .crossJoin(F.broadcast(gt))
        .select("source", "n", term_micro.alias("tm"))
        .groupBy("source")
        .agg(
            F.round(F.sum("tm") / 1e6 / F.first("n"), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )


_SQL_SOURCE_KL = r"""
WITH toks AS (SELECT source,
                     unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
              FROM documents),
sc AS (SELECT source, word, count(*) AS c FROM toks GROUP BY 1, 2),
st AS (SELECT source, count(*) AS n FROM toks GROUP BY 1),
gc AS (SELECT word, count(*) AS gc FROM toks GROUP BY 1),
gt AS (SELECT count(*)::DOUBLE AS gt FROM toks)
SELECT source,
       round(sum(sc.c * CAST(round(round(ln((sc.c::DOUBLE / st.n)
                                            / (gc.gc::DOUBLE / gt.gt)), 6)
                                   * 1e6, 0) AS BIGINT)) / 1e6 / st.n, 6)
         AS kl_nats
FROM sc JOIN st USING (source) JOIN gc USING (word), gt
GROUP BY source, st.n ORDER BY source
"""


def q_sliding_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride overlapping passage windows (32 tokens, stride 16)
    — the standard RAG passage generator (half-overlap so no answer
    span straddles a boundary unseen). Pure array algebra on the split
    column: a generated start-index sequence transforms into slices,
    so the whole op is one explode with zero shuffle and documents
    stay row-independent (mapInPandas-free; whole-stage codegen).

    The start set is ``{k·16 : k·16 < max(len−16, 1)}`` — written as
    an explicit ceil-div sequence because Spark's ``sequence(a, b)``
    is stop-INCLUSIVE while the oracle's ``range(a, b, s)`` is
    stop-exclusive."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    starts = F.expr(
        "transform(sequence(0,"
        " ((greatest(size(ws) - 16, 1) + 15) div 16) - 1), x -> x * 16)"
    )
    return (
        docs.select("doc_id", ws.alias("ws"))
        .where(F.size("ws") > 0)
        .select("doc_id", F.explode(starts).alias("start_tok"), "ws")
        .select(
            "doc_id",
            F.col("start_tok").cast("long").alias("start_tok"),
            F.array_join(
                F.slice("ws", F.col("start_tok") + 1, 32), " "
            ).alias("passage"),
        )
        .withColumn("n_chars", F.length("passage").cast("long"))
        .select("doc_id", "start_tok", "n_chars", "passage")
        .orderBy("doc_id", "start_tok")
        .limit(200)
    )


_SQL_SLIDING_PASSAGES = r"""
WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
p AS (SELECT doc_id, i AS start_tok,
             array_to_string(ws[i + 1 : i + 32], ' ') AS passage
      FROM w, unnest(range(0, greatest(len(ws) - 16, 1), 16)) AS r(i)
      WHERE len(ws) > 0)
SELECT doc_id, start_tok, length(passage) AS n_chars, passage
FROM p ORDER BY doc_id, start_tok LIMIT 200
"""


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-family window functions — percent_rank, cume_dist,
    nth_value over a full frame — completing the windowed SQL surface
    (ranks/lead/lag/ntile/rolling frames are covered elsewhere). Both
    engines compute the same small rationals ((rank-1)/(n-1), n_le/n),
    rounded at 6 for presentation only."""
    supp = load_table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        supp.select(
            "s_nationkey",
            "s_suppkey",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.nth_value("s_suppkey", 2).over(wfull).alias("second_poorest"),
        )
        .orderBy("s_nationkey", "s_suppkey")
        .limit(200)
    )


_SQL_WINDOW_DISTRIBUTION = """
SELECT s_nationkey, s_suppkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6) AS cd,
       nth_value(s_suppkey, 2) OVER (PARTITION BY s_nationkey
          ORDER BY s_acctbal, s_suppkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_poorest
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal, s_suppkey)
ORDER BY s_nationkey, s_suppkey LIMIT 200
"""


def q_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, the
    number of distinct word-5-grams they share — the between-subset
    leakage report (train/benchmark, source/source) that complements
    contamination_check's per-doc flags. Grain discipline: one explode
    to the DISTINCT (source, gram) table, then a gram-keyed self-join
    of that vocab-sized table; the join keys here are full md5 strings
    for cross-engine parity — the engine-internal path would use
    xxhash64 longs (operators/dedup.py's hashed-gram idiom)."""
    docs = load_table(spark, sf_dir, "documents")
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    grams = (
        docs.select("source", ws.alias("ws"))
        .where(F.size("ws") >= 5)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 4),"
                    " i -> md5(array_join(slice(ws, i, 5), ' ')))"
                )
            ).alias("gh"),
        )
        .distinct()
        # both self-join legs consume the distinct gram table; the lazy
        # checkpoint collapses the two clones of the explode+md5+
        # distinct subtree (2 corpus tokenizations + 2 distinct
        # shuffles) into one pass over the (source, gram) vocab
        .localCheckpoint(eager=False)
    )
    from ..runtime import register_materialized

    register_materialized(grams)
    a = grams.select(F.col("source").alias("src_a"), "gh")
    b = grams.select(F.col("source").alias("src_b"), "gh")
    return (
        a.join(b, "gh")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .orderBy(F.desc("shared"), "src_a", "src_b")
        .limit(50)
    )


_SQL_CROSS_SOURCE_OVERLAP = r"""
WITH w AS (SELECT source, string_split_regex(trim(lower(text)), '\s+') AS ws
           FROM documents),
g AS (SELECT DISTINCT source, md5(array_to_string(ws[i : i + 4], ' ')) AS gh
      FROM w, unnest(range(1, len(ws) - 3)) AS r(i)
      WHERE len(ws) >= 5)
SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared
FROM g a JOIN g b ON a.gh = b.gh AND a.source < b.source
GROUP BY 1, 2 ORDER BY shared DESC, src_a, src_b LIMIT 50
"""


def q_pca_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-whitened embeddings (k=16) — the FAISS PCAMatrix / OPQ-
    rotation preprocessing stage: fit on a bounded seeded sample at
    the driver, apply as one shuffle-free Arrow matmul stage. No SQL
    analog (eigendecomposition); the gate runs rows-only plus a
    quality metric asserting the whitening contract (unit variance,
    orthonormal axes) on the actual output, and pytest pins
    determinism/orthonormality/variance ordering."""
    from ..operators.pca import pca_apply, pca_fit

    emb = load_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, k=16, whiten=True)
    return pca_apply(emb, model).orderBy("vec_id")


def _pca_quality(spark: SparkSession, sf_dir: str, rows: list) -> dict:
    """Whitening contract on the real output: per-dim variance ≈ 1."""
    import numpy as np

    mat = np.array([list(r["proj"]) for r in rows], dtype=np.float64)
    if len(mat) < 2:
        return {"var_unit": 0.0}
    var = mat.var(axis=0, ddof=1)
    return {"var_unit": float(max(0.0, 1.0 - np.abs(var - 1.0).mean()))}


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 distinctive terms per source by tf-idf (source-level
    documents) — the keyword complement of source_kl_divergence's
    distribution-level drift. One corpus-scale explode; document
    frequency and scoring run on the (source, word) grain. The score
    is tf × idf_micro — an INTEGER product of the count and the
    micro-nat-snapped idf, so ranking is bit-stable across engines."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("word"),
    )
    sc = (
        toks.groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=True)
    )
    # countDistinct is null-EXCLUDING, matching the oracle's
    # count(DISTINCT source); a .distinct().count() would count a NULL
    # source as its own value and skew the idf denominator
    n_sources = docs.agg(F.countDistinct("source")).first()[0]
    dfs = sc.groupBy("word").agg(F.count(F.lit(1)).alias("dfs"))
    idf_micro = F.round(
        F.round(F.log(F.lit(float(n_sources)) / F.col("dfs")), 6) * 1e6, 0
    ).cast("long")
    scored = sc.join(dfs, "word").select(
        "source", "word", "tf", (F.col("tf") * idf_micro).alias("tfidf_micro")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("tfidf_micro"), F.asc("word")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("source", "word", "tf", "tfidf_micro")
        .orderBy("source", F.desc("tfidf_micro"), "word")
        .limit(1000)
    )


_SQL_TFIDF_TOP_TERMS = r"""
WITH toks AS (SELECT source,
                     unnest(string_split_regex(trim(lower(text)), '\s+')) AS word
              FROM documents),
sc AS (SELECT source, word, count(*) AS tf FROM toks GROUP BY 1, 2),
ns AS (SELECT count(DISTINCT source) AS n FROM documents),
df AS (SELECT word, count(*) AS dfs FROM sc GROUP BY word),
scored AS (SELECT sc.source, sc.word, sc.tf,
                  sc.tf * CAST(round(round(ln(ns.n::DOUBLE / df.dfs), 6)
                                     * 1e6, 0) AS BIGINT) AS tfidf_micro
           FROM sc JOIN df USING (word), ns),
ranked AS (SELECT *, row_number() OVER (PARTITION BY source
                     ORDER BY tfidf_micro DESC, word) AS rk FROM scored)
SELECT source, word, tf, tfidf_micro FROM ranked WHERE rk <= 5
ORDER BY source, tfidf_micro DESC, word LIMIT 1000
"""


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-type-2 dimension build from a changelog: collapse each
    user's event stream into validity intervals [valid_from, valid_to)
    per consecutive event_type run — the CDC→warehouse-dimension
    operator. Change detection (null-safe lag compare) + running-sum
    island ids + per-island rollup + lead() for the closing edge; one
    shuffle on user_id serves all four window/group stages (same
    partitioning reused — Spark plans a single Exchange)."""
    events = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = F.when(
        ~F.col("event_type").eqNullSafe(F.lag("event_type").over(by_user)), 1
    ).otherwise(0)
    isl = events.select(
        "user_id", "ts", "event_id", "event_type", chg.alias("chg")
    ).withColumn(
        "island",
        F.sum("chg").over(by_user.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = isl.groupBy("user_id", "event_type", "island").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    # island is the per-user interval ordinal (1-based: the first row's
    # null-safe compare against lag NULL counts as a change) — unique
    # within user and monotone with event order, so it is the
    # deterministic ordering key: two intervals CAN share valid_from
    # when consecutive different-type events carry one timestamp, and
    # ordering/lead on valid_from alone would let the engines disagree
    iv = iv.withColumnRenamed("island", "interval_seq")
    by_seq = Window.partitionBy("user_id").orderBy("interval_seq")
    return (
        iv.select(
            "user_id",
            F.col("interval_seq").cast("long").alias("interval_seq"),
            "event_type",
            "valid_from",
            F.lead("valid_from").over(by_seq).alias("valid_to"),
            "n_events",
        )
        .orderBy("user_id", "interval_seq")
        .limit(300)
    )


_SQL_SCD2_INTERVALS = """
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN event_type IS DISTINCT FROM
                   lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS chg
  FROM events),
isl AS (SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS island
        FROM ordered),
iv AS (SELECT user_id, event_type, island AS interval_seq,
              min(ts) AS valid_from, count(*) AS n_events
       FROM isl GROUP BY user_id, event_type, island)
SELECT user_id, CAST(interval_seq AS BIGINT) AS interval_seq, event_type,
       valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY interval_seq)
         AS valid_to,
       n_events
FROM iv ORDER BY user_id, interval_seq LIMIT 300
"""


def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (8 merges) over documents.

    Iterative (argmax-dependent rounds), so no SQL oracle — the driver
    records a rows-only check and the pytest golden pins the merges
    against an independent pure-Python reference implementation of the
    same published algorithm. See operators/bpe_train.py for the scale
    shape (corpus collapses to a vocab table before any iteration)."""
    from ..operators.bpe_train import render_symbol, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    merges = train_bpe(docs, num_merges=8)
    rows = [
        (rank, render_symbol(a, merges), render_symbol(b, merges),
         render_symbol(new_id, merges), n)
        for rank, a, b, new_id, n in merges
    ]
    return spark.createDataFrame(
        rows, "rank int, left string, right string, merged string, n long"
    )


def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join — the attribution shape: each
    'view' event joins every 'purchase' by the same user within the
    following hour. Both sides are file streams with 2-hour watermarks;
    the time-range join condition lets Spark bound per-side state (a
    row is dropped once the opposite watermark passes its join window),
    so state is O(active window), not O(stream). Inner-join matches
    emit as they occur, so the append-mode AvailableNow drain equals
    the batch interval join — the same batch-parity contract as the
    other streaming gate entries.

    Parity: the gap is exact integer microseconds (``unix_micros`` vs
    DuckDB ``epoch_us``) — no seconds-truncation semantics to diverge.
    """
    from ..streaming.ingest import drain_shuffle_partitions, stream_events_table

    src = stream_events_table(spark, sf_dir)  # keeps the size stamp
    views = (
        src.where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    purchases = (
        stream_events_table(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    pairs = views.join(
        purchases,
        F.expr(
            "user_id = p_user AND purchase_ts >= view_ts"
            " AND purchase_ts <= view_ts + INTERVAL 1 HOUR"
        ),
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )
    with drain_shuffle_partitions(spark, source=src):
        q = (
            pairs.writeStream.outputMode("append")
            .format("memory")
            .queryName("corpus_stream_stream")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("corpus_stream_stream").orderBy("view_id", "purchase_id")


_SQL_STREAM_STREAM = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
ORDER BY view_id, purchase_id
"""


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by content-free id
    hash — the canonical training-data partitioner: stable under
    re-runs, re-orderings, and incremental appends (a doc's split never
    changes). Pure map-side; no shuffle before the 3-group agg. The
    md5-prefix bucket is the engine's cross-engine-stable hash idiom
    (same value in DuckDB, Trino, or Flink SQL)."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split")
    )


_SQL_DATASET_SPLIT = """
SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM (SELECT n_chars,
             ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
      FROM documents)
GROUP BY 1 ORDER BY split
"""


def q_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-style quality binning: docs bucketed into 10 equal-
    width length bins between the GLOBAL min/max (1-row broadcast
    scalar). All-integer bucket arithmetic so both engines floor
    identically."""
    docs = load_table(spark, sf_dir, "documents")
    stats = docs.agg(
        F.min("n_chars").alias("mn"), F.max("n_chars").alias("mx")
    )
    bucket = F.expr("least(9, ((n_chars - mn) * 10) div (mx - mn + 1))")
    return (
        docs.crossJoin(F.broadcast(stats))
        .withColumn("bin", bucket.cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
        .orderBy("bin")
    )


_SQL_QUALITY_BINS = """
WITH stats AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents)
SELECT CAST(least(9, ((n_chars - mn) * 10) // (mx - mn + 1)) AS INT) AS bin,
       count(*) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM documents CROSS JOIN stats
GROUP BY 1 ORDER BY bin
"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: how many training docs share at least
    one 5-gram with the held-out set (source src0 plays the benchmark).
    Shingle both sides → distinct benchmark grams → LEFT SEMI join →
    distinct contaminated ids. The semi join keys on the gram string;
    at corpus scale the benchmark side is the small one and AQE
    broadcasts it — nothing quadratic anywhere."""
    from ..operators.dedup import hashed_gram_table

    docs = load_table(spark, sf_dir, "documents")
    # grams never materialize as strings (hashed_gram_table: multi-arg
    # xxhash64 straight off the token array — the explode and the semi
    # join move 8-byte longs instead of 5-word text; measured
    # 1.6 s → 0.9 s at sf1). A false contamination needs a 64-bit
    # collision between a train gram and a distinct bench gram — odds
    # far below corpus pair counts, deterministic if ever hit (the
    # _pair_jaccard idiom).
    # NB: the two consumers of `grams` are NOT a cloned subtree — the
    # source filters push below the distinct, so the bench leg scans
    # only src0 and the train leg the rest: disjoint partitions of one
    # pass. A round-9 attempt to checkpoint the gram table regressed
    # the query ~25% (materializing the token-scale table costs more
    # than the split scan) and was reverted after an interleaved A/B.
    grams = hashed_gram_table(
        docs, n=5, extra_cols=("source",), distinct=True
    )
    bench_grams = grams.filter(F.col("source") == "src0").select("h").distinct()
    train_grams = grams.filter(F.col("source") != "src0").select("doc_id", "h")
    train = docs.filter(F.col("source") != "src0")
    contaminated = (
        train_grams.join(bench_grams, "h", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # n_train rides as a broadcast 1-row aggregate instead of an eager
    # driver count: one action for the whole query instead of two
    n_train = train.agg(F.count(F.lit(1)).alias("n_train"))
    return contaminated.agg(
        F.count(F.lit(1)).alias("n_contaminated")
    ).crossJoin(F.broadcast(n_train)).select(
        F.col("n_train").cast("bigint").alias("n_train"),
        F.col("n_contaminated"),
        F.round(
            F.col("n_contaminated") / F.col("n_train").cast("double"), 4
        ).alias("pct"),
    )


_SQL_CONTAMINATION = r"""
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, source, t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
         || t[i+3] || ' ' || t[i+4] AS gram
  FROM (SELECT doc_id, source, t,
               unnest(range(1, greatest(len(t) - 3, 1))) AS i
        FROM toks)),
bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src0'),
contam AS (
  SELECT DISTINCT g.doc_id
  FROM grams g JOIN bench USING (gram)
  WHERE g.source <> 'src0')
SELECT (SELECT count(*) FROM documents WHERE source <> 'src0') AS n_train,
       count(*) AS n_contaminated,
       round(count(*) / (SELECT count(*) FROM documents
                         WHERE source <> 'src0')::DOUBLE, 4) AS pct
FROM contam"""


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup summary: maximal duplicated 5-gram token
    spans (``duplicate_span_table``, the suffix-array-free analogue of
    Lee et al. substring dedup) rolled up per source. Counts are
    position-offset-invariant (no raw span offsets in the output), so
    the Spark 0-based and DuckDB 1-based token positions agree
    exactly. The join back to documents for the source column keys on
    doc_id — the same partitioning the span groupBy just produced."""
    from ..operators.dedup import duplicate_span_table

    docs = load_table(spark, sf_dir, "documents")
    spans = duplicate_span_table(docs, n=5, min_count=2)
    return (
        spans.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs_with_dups"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("n_grams").alias("n_dup_grams"),
            F.sum("n_tokens").alias("n_dup_tokens"),
            F.max("n_tokens").alias("max_span_tokens"),
        )
        .orderBy("source")
    )


_SQL_DUP_SPANS = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT doc_id, i AS pos,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
         || t[i+3] || ' ' || t[i+4] AS g
  FROM (SELECT doc_id, t, unnest(range(1, greatest(len(t) - 3, 1))) AS i
        FROM toks)),
dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rid
  FROM grams JOIN dupg USING (g)),
spans AS (
  SELECT doc_id, count(*) AS n_grams, count(*) + 4 AS n_tokens
  FROM runs GROUP BY doc_id, rid)
SELECT d.source,
       count(DISTINCT s.doc_id) AS n_docs_with_dups,
       count(*) AS n_spans,
       CAST(sum(s.n_grams) AS BIGINT) AS n_dup_grams,
       CAST(sum(s.n_tokens) AS BIGINT) AS n_dup_tokens,
       max(s.n_tokens) AS max_span_tokens
FROM spans s JOIN documents d USING (doc_id)
GROUP BY d.source ORDER BY d.source"""


def q_novelty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest novelty (source src1 plays the incoming
    batch): batch docs whose normalized-content fingerprint never
    occurs in the rest of the corpus. Runs through the Bloom-pruned
    ``novel_rows`` operator — the bloom resolves most of the batch
    without touching the corpus; only the "maybe" residue pays the
    exact semi join, and false positives can only route rows to the
    exact stage, never change the answer — so the result is EXACT and
    the oracle is a plain anti join on the same fingerprint."""
    from ..operators.novelty import novel_rows

    # fingerprint once, then checkpoint the narrow (id, source, fp)
    # projection: the bloom build and the verify anti join are separate
    # plan executions, and without this the corpus text would be
    # regex-normalized + md5'd twice
    from ..operators.fanout import fan_out

    from ..runtime import register_materialized

    fps = (
        fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
        .select(
            "doc_id", "source", exact_fingerprint(F.col("text")).alias("__fp")
        )
        .localCheckpoint(eager=False)
    )
    register_materialized(fps)
    corpus = fps.filter(F.col("source") != "src1").select("__fp")
    batch = fps.filter(F.col("source") == "src1").select("doc_id", "__fp")
    # m=2^23 bits / k=7: ~2e-6 FP at 200k corpus keys — 7 probes per
    # row beats the "optimal" k=29 (probe CPU scales with k; FP is
    # already far below anything that would widen the verify stage).
    # Cost dispatch: under 2M corpus fingerprints the bitmap machinery
    # costs more than the narrow-key anti join it prunes, so novel_rows
    # runs the plain left_anti there (identical rows — pytest pins
    # both modes; the bloom path is the 100 TB shape)
    novel, _ = novel_rows(
        corpus, batch, "__fp", k=7, with_stats=False,
        bloom_min_corpus_rows=2_000_000,
    )
    return novel.select("doc_id").orderBy("doc_id")


# same normalization as exact_fingerprint (casefold, collapse \s+, trim);
# DuckDB regexp_replace needs the 'g' flag to match Spark's replace-all
_SQL_NOVELTY = r"""
WITH fp AS (
  SELECT doc_id, source,
         md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS f
  FROM documents)
SELECT b.doc_id
FROM fp b
WHERE b.source = 'src1'
  AND NOT EXISTS (SELECT 1 FROM fp c WHERE c.source <> 'src1' AND c.f = b.f)
ORDER BY doc_id"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-version diff (``snapshot_diff``): two deterministic
    corpus snapshots are derived from the documents table with the
    engine's cross-engine-stable md5-id bucket — old = buckets 0-89,
    new = buckets 5-99 with buckets 40-49 textually edited — so the
    diff has all four statuses and both engines construct identical
    versions. One full-outer join on the id; counts per status."""
    from ..operators.novelty import snapshot_diff

    from ..runtime import register_materialized

    docs = load_table(spark, sf_dir, "documents")
    bucket = _md5_bucket(F.col("doc_id"), 100)
    edited = (F.col("__b") >= 40) & (F.col("__b") < 50)
    # one docs scan computes the bucket and both fingerprint variants
    # as NARROW columns (no text), then the checkpoint feeds both diff
    # sides — the before-plan cloned the scan+md5 subtree per side
    base = docs.select(
        "doc_id",
        bucket.alias("__b"),
        F.md5("text").alias("fp_orig"),
        F.md5(F.concat(F.col("text"), F.lit(" v2"))).alias("fp_v2"),
    ).localCheckpoint(eager=False)
    register_materialized(base)
    old = base.filter(F.col("__b") < 90).select(
        "doc_id", F.col("fp_orig").alias("fp")
    )
    new = base.filter(F.col("__b") >= 5).select(
        "doc_id",
        F.when(edited, F.col("fp_v2")).otherwise(F.col("fp_orig")).alias("fp"),
    )
    return (
        snapshot_diff(old, new, id_col="doc_id", fp_col="fp")
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("status")
    )


_SQL_SNAPSHOT_DIFF = """
WITH base AS (
  SELECT doc_id, text,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS b
  FROM documents),
old AS (SELECT doc_id, md5(text) AS fp FROM base WHERE b < 90),
new AS (SELECT doc_id,
               CASE WHEN b >= 40 AND b < 50 THEN md5(text || ' v2')
                    ELSE md5(text) END AS fp
        FROM base WHERE b >= 5),
diff AS (
  SELECT CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN o.fp IS DISTINCT FROM n.fp THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
SELECT status, count(*) AS n_docs FROM diff GROUP BY status ORDER BY status"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al., arXiv:2302.03169): score
    raw-corpus docs by importance weight under a hashed bag-of-words
    model — log p_target(x) − log p_raw(x) with src0 as the target
    domain. Features are 8192 md5-hash buckets (the cross-engine hash
    idiom; DSIR's own memory-bounding trick), bucket LMs are add-1
    smoothed, and per-token log-ratios are snapped to integer
    micro-nats and summed as LONGS (order-independent — the
    unigram_logprob idiom). Top-100 docs by mean per-token log-ratio.

    Plan shape: one conditional groupBy(bucket) builds BOTH LMs in a
    single shuffle; the ≤8192-row ratio table broadcasts, so scoring
    never shuffles token instances — the only other exchange is the
    per-doc rollup."""
    from ..operators.fanout import fan_out

    B = 8192
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    bucket = _md5_bucket(F.col("token"), B)
    tb = toks.select("doc_id", "source", bucket.alias("b"))
    is_target = F.col("source") == "src0"
    # lm feeds the totals AND the ratio table — the ≤8192-row
    # checkpoint stops both consumers from cloning the corpus-scale
    # tokenize+bucket+groupBy subtree (before-plan: 3 document scans,
    # now the irreducible 2 — build the LMs, then score)
    from ..runtime import register_materialized

    lm = tb.groupBy("b").agg(
        F.count(F.when(is_target, 1)).alias("ct"),
        F.count(F.when(~is_target, 1)).alias("cr"),
    ).localCheckpoint(eager=False)
    register_materialized(lm)
    totals = lm.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    # ratio of add-1-smoothed bucket probabilities as ONE double
    # division of exact integer products, then ln → micro-nat long
    ratio = (
        (F.col("ct") + 1).cast("double") * (F.col("nr") + B).cast("double")
    ) / ((F.col("cr") + 1).cast("double") * (F.col("nt") + B).cast("double"))
    lr_micro = F.round(F.round(F.log(ratio), 6) * 1e6, 0).cast("long")
    ratios = lm.crossJoin(F.broadcast(totals)).select(
        "b", lr_micro.alias("lr")
    )
    scored = (
        tb.filter(~is_target)
        .join(F.broadcast(ratios), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr").alias("lr_sum"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "n_tokens",
            F.round(
                (F.col("lr_sum") / F.lit(1e6)) / F.col("n_tokens").cast("double"),
                4,
            ).alias("dsir_logratio"),
        )
        .orderBy(F.desc("dsir_logratio"), F.asc("doc_id"))
        .limit(100)
    )


_SQL_DSIR = r"""
WITH toks AS (
  SELECT doc_id, source, t.token
  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(token)
  WHERE t.token <> ''),
tb AS (
  SELECT doc_id, source,
         ('0x' || substring(md5(token), 1, 8))::BIGINT % 8192 AS b
  FROM toks),
lm AS (
  SELECT b,
         count(*) FILTER (WHERE source = 'src0') AS ct,
         count(*) FILTER (WHERE source <> 'src0') AS cr
  FROM tb GROUP BY b),
totals AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM lm),
ratios AS (
  SELECT b,
         round(ln(((ct + 1)::DOUBLE * (nr + 8192)::DOUBLE)
                  / ((cr + 1)::DOUBLE * (nt + 8192)::DOUBLE)),
               6)::DECIMAL(18,6) AS lr
  FROM lm CROSS JOIN totals),
scored AS (
  SELECT doc_id, count(*) AS n_tokens, sum(lr) AS lr_sum
  FROM tb JOIN ratios USING (b)
  WHERE source <> 'src0'
  GROUP BY doc_id)
SELECT doc_id, n_tokens,
       round(lr_sum::DOUBLE / n_tokens, 4) AS dsir_logratio
FROM scored
ORDER BY dsir_logratio DESC, doc_id ASC
LIMIT 100"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing summary: greedy next-fit packing of
    docs into 2048-token sequences inside 32 stable id-hash buckets
    (``operators/packing.pack_sequences``), rolled up per bucket. The
    per-bucket walk is deterministic (id order), so a recursive-CTE
    oracle reproduces the exact sequence assignment. fill_rate =
    packed tokens / (sequences × capacity)."""
    from ..operators.fanout import fan_out
    from ..operators.packing import pack_sequences

    CAP, NB = 2048, 32
    docs = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    bucket = _md5_bucket(F.col("doc_id"), NB)
    from ..runtime import register_materialized

    base = docs.select(
        "doc_id",
        # NULL text counts as 0 tokens on BOTH engines (see oracle)
        F.coalesce(token_count_col(F.col("text")), F.lit(0)).alias("n_tokens"),
        bucket.alias("bucket"),
    ).localCheckpoint(eager=False)  # feeds the packer AND the token
    # rollup: one corpus token-count pass, kept as narrow 24-byte rows
    register_materialized(base)
    packed = pack_sequences(base, max_tokens=CAP)
    seqs = packed.groupBy("bucket").agg(F.max("seq").alias("n_seqs"))
    tokens = base.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    return (
        tokens.join(seqs, "bucket")
        .select(
            "bucket",
            "n_docs",
            "n_seqs",
            "sum_tokens",
            F.round(
                F.col("sum_tokens")
                / (F.col("n_seqs") * F.lit(CAP)).cast("double"),
                4,
            ).alias("fill_rate"),
        )
        .orderBy("bucket")
    )


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture rebalancing (the static-target core of
    DoReMi-style domain reweighting, arXiv:2305.10429): per-source
    sampling weights that move the token distribution toward a uniform
    target share, capped at 5x upsampling. Weights and resampled token
    counts use integer micro-unit arithmetic (w_micro = weight * 1e4 as
    a long; sampled = toks * w_micro div 1e4) so both engines agree
    bit-for-bit — no double rounding at .5 boundaries. One groupBy +
    a 1-row broadcast of the corpus totals."""
    from ..runtime import register_materialized

    docs = load_table(spark, sf_dir, "documents")
    # per_src feeds the totals AND the weight table: the sources-scale
    # checkpoint stops both from cloning the corpus token-count pass
    per_src = docs.groupBy("source").agg(
        F.sum(
            F.coalesce(token_count_col(F.col("text")), F.lit(0))
        ).alias("toks")
    ).localCheckpoint(eager=False)
    register_materialized(per_src)
    totals = per_src.agg(
        F.sum("toks").alias("total"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    # toks = 0 (a source whose docs are all empty/NULL text) must not
    # reach the division: guard to the cap, which is also what the
    # oracle's least(cap, round(inf)) computes for 0-token sources
    w_micro = F.when(F.col("toks") == 0, F.lit(50000)).otherwise(
        F.least(
            F.lit(50000),
            F.round(
                F.col("total")
                / (F.col("n_sources") * F.col("toks")).cast("double")
                * 1e4,
                0,
            ).cast("long"),
        )
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn("w_micro", w_micro)
        .select(
            "source",
            "toks",
            F.round(F.col("toks") / F.col("total").cast("double"), 4).alias(
                "share"
            ),
            (F.col("w_micro") / F.lit(1e4)).alias("weight"),
            F.expr("toks * w_micro div 10000").alias("sampled_tokens"),
        )
        .orderBy("source")
    )


_SQL_DOMAIN_MIX = r"""
WITH per_src AS (
  SELECT source,
         CAST(sum(coalesce(len(regexp_extract_all(text, '\S+')), 0))
              AS BIGINT) AS toks
  FROM documents GROUP BY source),
totals AS (SELECT CAST(sum(toks) AS BIGINT) AS total,
                  count(*) AS n_sources FROM per_src),
w AS (
  SELECT source, toks, total,
         CASE WHEN toks = 0 THEN 50000
              ELSE least(50000,
                         CAST(round(total / (n_sources * toks)::DOUBLE
                                    * 10000, 0) AS BIGINT)) END AS w_micro
  FROM per_src CROSS JOIN totals)
SELECT source, toks,
       round(toks / total::DOUBLE, 4) AS share,
       w_micro / 10000.0 AS weight,
       toks * w_micro // 10000 AS sampled_tokens
FROM w ORDER BY source"""


# The summary needs only the per-bucket SEQUENCE COUNT, and next-fit
# is a left-fold over (seq, fill) state — so the oracle is a LINEAR
# list_reduce per bucket (each element starts as its own 1-sequence
# and the fold either merges into the open fill or opens a new seq),
# replacing the recursive-CTE walk that cost 171 s at sf1 (round-9
# verdict ask #7: ~200x faster, bit-identical output at every scale).
_SQL_PACK_SEQUENCES = r"""
WITH base AS (
  SELECT doc_id,
         coalesce(len(regexp_extract_all(text, '\S+')), 0) AS n_tokens,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 32 AS bucket
  FROM documents),
b AS (
  SELECT bucket, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         list(n_tokens ORDER BY doc_id) AS toks
  FROM base GROUP BY bucket),
r AS (
  SELECT bucket, n_docs, sum_tokens,
         list_reduce(
           list_transform(toks, x -> struct_pack(seq := 1::BIGINT, fill := x)),
           (a, x) -> CASE WHEN a.fill + x.fill > 2048
                          THEN struct_pack(seq := a.seq + 1, fill := x.fill)
                          ELSE struct_pack(seq := a.seq, fill := a.fill + x.fill) END
         ) AS st
  FROM b)
SELECT bucket, n_docs, st.seq AS n_seqs, sum_tokens,
       round(sum_tokens::DOUBLE / (st.seq * 2048), 4) AS fill_rate
FROM r ORDER BY bucket
"""


def q_stream_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming vector-index ingest through the correctness gate: the
    embeddings table as a file stream, drained via ``foreachBatch``
    into a ``VectorIndex`` — every micro-batch is ONE read-merge-publish
    manifest commit under the writer lock, so readers are
    snapshot-isolated through the whole drain (the streaming face of
    the reference's poll-then-upsert loop, pipeline2.py:163-187). The
    FINAL index content must equal the batch GROUP BY over the same
    table — upsert merges by id, so the drained state is exactly the
    input row-set regardless of batch boundaries or replays."""
    import shutil
    import tempfile

    from ..streaming.ingest import (
        run_streaming_index_ingest,
        stream_embeddings_table,
    )

    tmp = tempfile.mkdtemp(prefix="sgraft_stream_idx_")
    try:
        idx = run_streaming_index_ingest(
            spark,
            stream_embeddings_table(spark, sf_dir),
            f"{tmp}/index",
            f"{tmp}/ckpt",
            query_name="corpus_stream_index_ingest",
        )
        summary = (
            idx.read()
            .groupBy("title")
            .agg(
                F.count(F.lit(1)).alias("n_vectors"),
                F.sum(F.col("id").cast("bigint")).alias("sum_ids"),
                F.max(F.size("vector")).cast("bigint").alias("dim"),
            )
            .orderBy("title")
        )
        # materialize before the temp index dir disappears — the caller
        # collects lazily, and the aggregate is a handful of rows
        rows = summary.collect()
        return spark.createDataFrame(rows, summary.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


_SQL_STREAM_INDEX_INGEST = """
SELECT CAST(label AS VARCHAR) AS title,
       count(*) AS n_vectors,
       CAST(sum(vec_id) AS BIGINT) AS sum_ids,
       max(len(embedding)) AS dim
FROM embeddings GROUP BY 1 ORDER BY 1
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second streaming gate entry: the events stream unioned with
    itself (simulated at-least-once redelivery), deduped by
    watermark-bounded dropDuplicates, drained with AvailableNow into a
    memory sink, then counted per type — must equal the batch GROUP BY
    over the ORIGINAL table (exactly-once contract)."""
    from ..streaming.ingest import (
        dedup_stream,
        drain_shuffle_partitions,
        stream_events_table,
    )

    stream = stream_events_table(spark, sf_dir)
    redelivered = stream.unionByName(stream)  # every event arrives twice
    deduped = dedup_stream(redelivered, watermark="2 hours")
    # aggregate INSIDE the stream (chained stateful operators:
    # dedup state → agg state): only the 5 aggregate rows ever leave
    # the executors. An append-mode drain of the deduped ROWS into the
    # memory sink would materialize the whole stream on the driver —
    # fine at sf0.01, a driver-memory wall on an unbounded feed.
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    with drain_shuffle_partitions(spark, source=stream):
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName("corpus_stream_dedup")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("corpus_stream_dedup").orderBy("event_type")


_SQL_STREAM_DEDUP = """
SELECT event_type, count(*) AS n FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------------------
# Relational breadth, batch 4 — the remaining classic TPC-H shapes
# (Q2/Q9/Q16/Q20/Q21), adapted to this schema's tables (no partsupp /
# commitdate columns in the driver testdata, so supplier-part pairs come
# from distinct lineitem pairs and "waiting" is defined on shipdate).
# Each is hand-decorrelated the way Catalyst wants it: correlated
# subqueries become one aggregation + a join-back, multi-EXISTS becomes
# per-group window math over a single shuffle.
# --------------------------------------------------------------------------


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per qualifying part, the best supplier by a
    correlated MIN. Supplier-part pairs are distinct lineitem pairs
    (no partsupp table); "cost" is s_acctbal. Decorrelated: one
    ``min_by`` over a composite (acctbal, suppkey) struct per part —
    a single shuffle on partkey instead of a per-row subquery; the
    part filter reaches the scan, and supplier joins shuffle on
    suppkey (supplier grows with SF → no pinned broadcast).

    The qualifying-part join runs BEFORE the pair distinct: restricting
    then de-duplicating is set-equal to de-duplicating then
    restricting, and the distinct (a full shuffle of every pair in the
    fact table otherwise) only sees pairs of qualifying parts —
    measured 2.1× at sf1, and the gap grows with the part-filter
    selectivity at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    qual = part.filter((F.col("p_size") < 10) & (F.col("p_type") == "SMALL"))
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(qual, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_suppkey", "p_partkey", "p_name")
        .distinct()
        .join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    ordkey = "struct(s_acctbal, s_suppkey)"
    return (
        pairs.groupBy("p_partkey", "p_name")
        .agg(
            F.expr(f"min_by(s_name, {ordkey})").alias("supplier"),
            F.round(F.min("s_acctbal"), 2).alias("min_bal"),
        )
        .orderBy(F.desc("min_bal"), F.asc("p_partkey"))
        .limit(100)
    )


_SQL_MIN_COST_SUPPLIER = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_partkey, p_name,
       first(s_name ORDER BY s_acctbal ASC, s_suppkey ASC) AS supplier,
       round(min(s_acctbal), 2) AS min_bal
FROM pairs
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE p_size < 10 AND p_type = 'SMALL'
GROUP BY p_partkey, p_name
ORDER BY min_bal DESC, p_partkey LIMIT 100
"""


def q_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-nation per-year margin on parts matching a
    name predicate. Margin proxy = revenue − 10% of retail value
    (testdata has no ps_supplycost). Five-table join where only
    lineitem↔orders shuffles big: the filtered part list and supplier→
    nation map stay dimension-sized relative to the fact table, but
    both GROW with SF, so they join by shuffle and AQE may elect the
    broadcast at runtime — nothing is pinned."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    red = part.filter(F.col("p_name").contains("red")).select(
        "p_partkey", "p_retailprice"
    )
    sn = supp.join(
        F.broadcast(nation), supp.s_nationkey == nation.n_nationkey
    ).select("s_suppkey", F.col("n_name").alias("nation"))
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * 0.1
    )
    return (
        li.join(red, li.l_partkey == red.p_partkey)
        .join(sn, li.l_suppkey == sn.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("nation", F.year("o_orderdate").alias("o_year"))
        .agg(F.round(_cents_sum(amount, 4), 2).alias("profit"))
        .orderBy("nation", F.desc("o_year"))
    )


_SQL_NATION_YEAR_PROFIT = """
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       round(sum(CAST(l_extendedprice * (1 - l_discount)
                      - p_retailprice * l_quantity * 0.1 AS DECIMAL(18,4)))::DOUBLE,
             2) AS profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, year(o_orderdate)
ORDER BY nation, o_year DESC
"""


def q_parts_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier count per (brand, type, size)
    excluding a NOT-IN supplier set (here: s_acctbal < 500 stands in
    for the complaints list). NOT IN on a non-nullable key ==
    left ANTI join — no null-trap, no broadcast pin (supplier grows
    with SF). The qualifying-part join runs BEFORE the pair distinct
    (restrict-then-dedup is set-equal and the distinct only shuffles
    pairs of selected parts — same win as min_cost_supplier); part
    filter is scan-level."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    excluded = supp.filter(F.col("s_acctbal") < 500).select("s_suppkey")
    sel = part.filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 4, 7, 10, 13)
    )
    pairs = (
        li.select("l_partkey", "l_suppkey")
        .join(sel, F.col("l_partkey") == F.col("p_partkey"))
        .select("l_suppkey", "p_brand", "p_type", "p_size")
        .distinct()
        .join(excluded, F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
    )
    return (
        pairs.groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


_SQL_PARTS_SUPPLIER_COUNTS = """
WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 4, 7, 10, 13)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers in one nation who shipped more than
    30% of some red part's 1996 volume — an aggregation subquery
    feeding a semi-join chain. Decorrelated: per-(part,supplier) and
    per-part sums come out of ONE groupBy pass (the per-part total is
    a window over the first agg — no second scan), then the qualifying
    supplier set semi-joins supplier⋈nation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    red_keys = part.filter(F.col("p_name").contains("red")).select("p_partkey")
    li96 = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    ).join(red_keys, F.col("l_partkey") == F.col("p_partkey"))
    per_ps = li96.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("l_quantity").alias("supp_qty")
    )
    w = Window.partitionBy("l_partkey")
    qualifying = (
        per_ps.withColumn("part_qty", F.sum("supp_qty").over(w))
        .filter(F.col("supp_qty") > F.col("part_qty") * 0.3)
        .select("l_suppkey")
        .distinct()
    )
    nat = nation.filter(F.col("n_name") == "NATION_3")
    return (
        supp.join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))
        .orderBy("s_name")
    )


_SQL_POTENTIAL_PROMOTION = """
WITH li96 AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
    AND l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE '%red%')),
per_ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM li96 GROUP BY l_partkey, l_suppkey),
qual AS (
  SELECT DISTINCT l_suppkey
  FROM (SELECT *, sum(supp_qty) OVER (PARTITION BY l_partkey) AS part_qty
        FROM per_ps)
  WHERE supp_qty > part_qty * 0.3)
SELECT s_name, round(s_acctbal, 2) AS s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3' AND s_suppkey IN (SELECT l_suppkey FROM qual)
ORDER BY s_name
"""


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: on finished multi-supplier orders, the unique
    supplier whose lineitems shipped LAST (shipdate stands in for the
    missing receipt/commit dates). The classic EXISTS + NOT-EXISTS
    double self-join collapses to one groupBy(order, supplier) and two
    stacked windows over the order key — lineitem is scanned and
    shuffled ONCE, which is the difference between 1 and 3 fact-table
    shuffles at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    fin = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    per_os = (
        li.join(fin, li.l_orderkey == fin.o_orderkey, "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("smax"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = (
        per_os.withColumn("omax", F.max("smax").over(w))
        .withColumn("nsupp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_at_max",
            F.sum(F.when(F.col("smax") == F.col("omax"), 1).otherwise(0)).over(w),
        )
        .filter(
            (F.col("nsupp") >= 2)
            & (F.col("smax") == F.col("omax"))
            & (F.col("n_at_max") == 1)
        )
    )
    return (
        flagged.join(supp, flagged.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("waiting_orders"))
        .orderBy(F.desc("waiting_orders"), F.asc("s_name"))
        .limit(100)
    )


_SQL_WAITING_SUPPLIERS = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, max(l_shipdate) AS smax
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
  GROUP BY l_orderkey, l_suppkey),
w1 AS (
  SELECT *,
         max(smax) OVER (PARTITION BY l_orderkey) AS omax,
         count(*) OVER (PARTITION BY l_orderkey) AS nsupp
  FROM per_os),
w2 AS (
  SELECT *,
         sum(CASE WHEN smax = omax THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_orderkey) AS n_at_max
  FROM w1)
SELECT s_name, count(*) AS waiting_orders
FROM w2 JOIN supplier ON l_suppkey = s_suppkey
WHERE nsupp >= 2 AND smax = omax AND n_at_max = 1
GROUP BY s_name
ORDER BY waiting_orders DESC, s_name LIMIT 100
"""


# --------------------------------------------------------------------------
# Unigram language-model scoring — the classic training-data quality
# filter (perplexity-style): score each document by the mean log
# probability of its tokens under the corpus unigram distribution.
# Two shuffles total: token-count agg, then doc re-agg of the exploded
# token stream joined to the vocab (vocab grows with the corpus → no
# pinned broadcast; AQE may still elect one at runtime). Per-token
# log-probs are ROUNDED to 6 dp and summed as exact decimals so the
# doc sum is order-independent and engine-agnostic (same idiom as BM25).
# --------------------------------------------------------------------------


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean unigram log-probability under the corpus LM.

    Per-token log-probs are snapped to exact integer micro-nats
    (round-to-6 is a multiple of 1e-6, so the *1e6 snap is exact) and
    summed as LONGS — order-independent, bit-equal to the oracle's
    decimal(18,6) sums after the final double division, without the
    decimal(28,6) accumulator. (A per-doc tf pre-aggregation was
    measured and rejected: on this corpus distinct (doc,token) ≈ token
    instances, so the extra exchange outweighs the volume cut.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    # the vocab groupBy and the count join-back key on xxhash64(token)
    # longs, not token strings — the two biggest exchanges move 8-byte
    # keys (measured 1.3 s → 1.0 s at sf1). A collision would merge two
    # tokens' counts: odds ~vocab²/2⁶⁴, deterministic if ever hit (the
    # _pair_jaccard idiom).
    from ..runtime import register_materialized

    toksh = toks.select("doc_id", F.xxhash64("token").alias("t"))
    # vocab feeds BOTH the total and the score join-back; without
    # materialization each consumer clones the tokenize+explode+groupBy
    # subtree (the round-9 before-plan scanned documents 3x). The
    # checkpoint is vocabulary-sized — bounded, tiny next to the corpus.
    vocab = (
        toksh.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    register_materialized(vocab)
    total = vocab.agg(F.sum("cnt").cast("double").alias("n_total"))
    lp_micro = F.round(
        F.round(F.log(F.col("cnt") / F.col("n_total")), 6) * 1e6, 0
    ).cast("long")
    scored = (
        toksh.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .select("doc_id", lp_micro.alias("lp_c"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                (F.sum("lp_c") / F.lit(1e6)) / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("mean_logprob"),
        )
        .orderBy("doc_id")
    )


_SQL_UNIGRAM_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id, t.token
  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(token)
  WHERE t.token <> ''),
vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token),
total AS (SELECT sum(cnt)::DOUBLE AS n_total FROM vocab),
scored AS (
  SELECT doc_id,
         round(ln(cnt / n_total), 6)::DECIMAL(18,6) AS lp
  FROM toks JOIN vocab USING (token) CROSS JOIN total)
SELECT doc_id,
       count(*) AS n_tokens,
       round(sum(lp)::DOUBLE / count(*), 4) AS mean_logprob
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def q_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, trained AND applied in one plan —
    the classifier stage of the published pipeline recipes (GPT-3's
    WebText-vs-CommonCrawl LR filter, CCNet's wiki-reference classifier,
    FineWeb-Edu's scorer): a multinomial Naive-Bayes token model where
    source ``src0`` plays the curated seed class and every document is
    scored by its mean token log-odds
    ``ln P(tok|seed) − ln P(tok|rest)`` (Laplace-smoothed, shared
    vocabulary V).

    Scale shape: ONE token explode feeds both training and inference —
    the per-class token counts are a map-side-combining groupBy on
    ``xxhash64(token)`` longs (the weight table is vocabulary-sized,
    NOT corpus-sized, so at 100 TB it still fits a broadcast); the
    class totals are a 1-row broadcast; scoring joins the weight table
    back on the same 8-byte key and sums integer micro-nats per doc —
    the unigram_logprob idiom, order-independent, bit-equal to the
    oracle's decimal sums."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("source") == "src0").cast("int").alias("is_seed"),
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("token"),
    ).filter(F.col("token") != "")
    toksh = toks.select("doc_id", "is_seed", F.xxhash64("token").alias("t"))
    # (cnt, pos) per token, neg derived as cnt − pos: a second
    # sum(1 − is_seed) accumulator measured 2.4× the agg cost of
    # count+sum at sf1 for the same information. The vocabulary-sized
    # result feeds three consumers (class totals, the weight table, and
    # nothing else touches the corpus again besides the scoring probe),
    # so checkpoint it once — without this the token explode + groupBy
    # runs once per consumer.
    from ..runtime import register_materialized

    vocab = (
        toksh.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("is_seed").alias("pos"))
        .localCheckpoint(eager=False)
    )
    register_materialized(vocab)
    # class totals are 3 scalars — a bounded driver collect (the
    # unigram_logprob broadcast-total idiom, minus the second full
    # vocab subtree the broadcast plan re-executes)
    tot = vocab.agg(
        F.sum("cnt").alias("n_all"),
        F.sum("pos").alias("n_pos"),
        F.count(F.lit(1)).alias("v"),
    ).head()
    n_pos = float(tot["n_pos"])
    n_neg = float(tot["n_all"] - tot["n_pos"])
    v = float(tot["v"])
    w_micro = F.round(
        F.round(
            F.log((F.col("pos") + 1.0) / F.lit(n_pos + v))
            - F.log((F.col("cnt") - F.col("pos") + 1.0) / F.lit(n_neg + v)),
            6,
        )
        * 1e6,
        0,
    ).cast("long")
    weights = vocab.select("t", w_micro.alias("w_c"))
    # round(mean, 4) in EXACT integer arithmetic: the mean of integer
    # micro-nats is the rational sum/(100·n) in tenth-milli units, and
    # a doc can land exactly on a rounding tie (measured: −0.00145 at
    # sf0.1) where Spark's HALF_UP on the shortest double string and
    # DuckDB's round-of-the-inexact-double disagree. Half-away-from-zero
    # over positive integers — sgn·((2|p| + q) div 2q) — is the same
    # truncating division on both engines, no double in sight until the
    # final exact /1e4.
    scored = toksh.join(weights, "t").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("w_c").alias("p"),
    )
    r = F.when(F.col("p") < 0, -1).otherwise(1) * F.expr(
        "(2 * abs(p) + n_tokens * 100) div (2 * n_tokens * 100)"
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        (r / 1e4).alias("mean_logodds"),
        (r > 0).alias("pred_seedlike"),
    ).orderBy("doc_id")


_SQL_NB_QUALITY = r"""
WITH toks AS (
  SELECT doc_id, CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_seed,
         t.token
  FROM documents, unnest(string_split_regex(lower(text), '\s+')) AS t(token)
  WHERE t.token <> ''),
vocab AS (
  SELECT token, sum(is_seed) AS pos, sum(1 - is_seed) AS neg
  FROM toks GROUP BY token),
totals AS (
  SELECT sum(pos)::DOUBLE AS n_pos, sum(neg)::DOUBLE AS n_neg,
         count(*)::DOUBLE AS v
  FROM vocab),
weights AS (
  SELECT token,
         CAST(round(ln((pos + 1.0) / (n_pos + v))
                    - ln((neg + 1.0) / (n_neg + v)), 6)::DECIMAL(18,6)
              * 1000000 AS BIGINT) AS w_c
  FROM vocab CROSS JOIN totals),
scored AS (
  SELECT doc_id, count(*) AS n_tokens, sum(w_c) AS p
  FROM toks JOIN weights USING (token) GROUP BY doc_id),
rounded AS (
  SELECT doc_id, n_tokens,
         (CASE WHEN p < 0 THEN -1 ELSE 1 END)
         * ((2 * abs(p) + n_tokens * 100) // (2 * n_tokens * 100)) AS r
  FROM scored)
SELECT doc_id, n_tokens, r / 1e4 AS mean_logodds, r > 0 AS pred_seedlike
FROM rounded ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# Gopher-style repetition/quality gate — the published heuristic family
# (Rae et al. 2021 "Scaling Language Models", §A1.1; reused by RefinedWeb
# and Dolma): word-count bounds, mean-word-length bounds, type-token
# ratio, and repeated-bigram coverage. Everything except the top-bigram
# count is per-ROW array math (zero shuffles, whole-stage codegen); the
# top-bigram count is an Arrow-batched pandas UDF over each doc's
# token array (no explode, no join). Per-doc ratios are rounded then
# summed as exact decimals so per-source averages are order-independent
# (same idiom as BM25/unigram_logprob).
# --------------------------------------------------------------------------


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # widen-only fan-out: the token/bigram math below is the expensive
    # part, and a few fat parquet splits would strand it on a few cores
    # (measured 82s -> 8s at sf1 from this + the codegen token ops)
    target = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, F.col("doc_id"))
    # codegen-native token ops (array_remove / array_join), not
    # interpreted higher-order lambdas; the split is CSE'd once per row
    toks = F.array_remove(F.split(F.lower(F.col("text")), r"\s+"), "")
    base = docs.select(
        "doc_id",
        "source",
        "n_chars",
        toks.alias("toks"),
    ).select(
        "doc_id",
        "source",
        "n_chars",
        "toks",
        F.size("toks").alias("n_words"),
        F.size(F.array_distinct("toks")).alias("n_types"),
        F.length(F.array_join("toks", "")).alias("word_chars"),
    )
    # top-bigram count as an Arrow-batched token-pair Counter (guide
    # §4.2): the per-row higher-order fold this replaces
    # (aggregate(array_sort(bigrams), ...)) ran INTERPRETED — Spark
    # lambda functions sit outside whole-stage codegen, and the sort
    # comparator alone is one interpreter dispatch per comparison, so
    # the scalar cost was O(n log n) interpreted steps per doc
    # (round-10 interleaved A/B at sf0.1: fold 1.68/2.98 min/med vs
    # 1.32/2.27 s — values bit-identical). Counting (tok[i], tok[i+1])
    # tuples equals counting the concat'd bigram strings: tokens carry
    # no whitespace by construction, so the pairing is injective. The
    # earlier explode → groupBy(doc,bg) → join-back formulation stays
    # rejected for the same reason as round 8: it consumed the
    # tokenize+bigram base twice and paid two exchanges for a scalar.
    @F.pandas_udf("int")
    def _top_bigram_cnt(tok_arrs: pd.Series) -> pd.Series:
        import numpy as np

        out = np.zeros(len(tok_arrs), dtype="int32")
        for i, arr in enumerate(tok_arrs):
            if arr is not None and len(arr) >= 2:
                best = 0
                counts: dict = {}
                prev = arr[0]
                for x in arr[1:]:
                    k = (prev, x)
                    v = counts.get(k, 0) + 1
                    counts[k] = v
                    if v > best:
                        best = v
                    prev = x
                out[i] = best
        return pd.Series(out)

    per_doc = (
        base.withColumn("top_bigram_cnt", _top_bigram_cnt("toks"))
        .drop("toks")
        .select(
            "doc_id",
            "source",
            F.round(F.col("word_chars") / F.col("n_words"), 6)
            .cast("decimal(18,6)")
            .alias("mean_wlen"),
            F.round(F.col("n_types") / F.col("n_words"), 6)
            .cast("decimal(18,6)")
            .alias("ttr"),
            F.round(
                F.col("top_bigram_cnt") * 2 / F.col("n_words"),
                6,
            )
            .cast("decimal(18,6)")
            .alias("top_bigram_frac"),
            (
                (F.col("n_words") >= 20)
                & (F.col("word_chars") / F.col("n_words") >= 3)
                & (F.col("word_chars") / F.col("n_words") <= 10)
                & (F.col("n_types") / F.col("n_words") > 0.2)
                & (
                    F.col("top_bigram_cnt") * 2 / F.col("n_words")
                    < 0.2
                )
            ).alias("keep"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
            F.round((F.sum("mean_wlen") / F.count(F.lit(1))).cast("double"), 4)
            .alias("avg_wlen"),
            F.round((F.sum("ttr") / F.count(F.lit(1))).cast("double"), 4)
            .alias("avg_ttr"),
            F.round(
                (F.sum("top_bigram_frac") / F.count(F.lit(1))).cast("double"), 4
            ).alias("avg_top_bigram"),
        )
        .orderBy("source")
    )


_SQL_GOPHER_QUALITY = r"""
WITH base AS (
  SELECT doc_id, source, n_chars,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
  FROM documents),
feats AS (
  SELECT doc_id, source, n_chars,
         len(toks) AS n_words,
         len(list_distinct(toks)) AS n_types,
         list_sum(list_transform(toks, x -> length(x))) AS word_chars
  FROM base),
bigrams AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg
  FROM base, unnest(range(1, len(toks))) AS r(i)),
top_bigram AS (
  SELECT doc_id, max(cnt) AS top_bigram_cnt
  FROM (SELECT doc_id, bg, count(*) AS cnt FROM bigrams GROUP BY doc_id, bg)
  GROUP BY doc_id),
per_doc AS (
  SELECT f.doc_id, f.source,
         round(word_chars::DOUBLE / n_words, 6)::DECIMAL(18,6) AS mean_wlen,
         round(n_types::DOUBLE / n_words, 6)::DECIMAL(18,6) AS ttr,
         round(COALESCE(top_bigram_cnt, 0) * 2::DOUBLE / n_words, 6)::DECIMAL(18,6)
           AS top_bigram_frac,
         (n_words >= 20
          AND word_chars::DOUBLE / n_words >= 3
          AND word_chars::DOUBLE / n_words <= 10
          AND n_types::DOUBLE / n_words > 0.2
          AND COALESCE(top_bigram_cnt, 0) * 2::DOUBLE / n_words < 0.2) AS keep
  FROM feats f LEFT JOIN top_bigram USING (doc_id))
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       round((sum(mean_wlen) / count(*))::DOUBLE, 4) AS avg_wlen,
       round((sum(ttr) / count(*))::DOUBLE, 4) AS avg_ttr,
       round((sum(top_bigram_frac) / count(*))::DOUBLE, 4) AS avg_top_bigram
FROM per_doc GROUP BY source ORDER BY source
"""


# --------------------------------------------------------------------------
# Collocation mining, exact rolling medians, and an integer-exact
# iterative PageRank — round-4 breadth additions.
# --------------------------------------------------------------------------


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigram collocations by pointwise mutual information.

    Classic corpus-statistics op for training-data analysis (salient
    multi-word expressions, tokenizer-merge candidates). Plan shape:

    - one explode for unigram counts, one array-transform explode for
      adjacent bigrams — both aggregate with map-side partial combine,
      so the Zipf head collapses per task before the shuffle;
    - the two corpus totals (N words, M bigrams) derive from those
      vocab-sized aggregates (checkpointed — the corpus is scanned
      exactly twice, the minimum for two different groupings) and fold
      in as literals, keeping the scoring stage join-free;
    - unigram counts re-join the bigram table twice; the vocab side is
      small after aggregation, so AQE broadcasts it.

    Parity: PMI is computed on an expression tree written identically
    in both engines (IEEE division/multiplication are exactly rounded,
    so identical trees give identical doubles) and then collapsed to
    micro-units via ``round(round(ln x, 6) * 1e6)`` → BIGINT, the same
    sub-ulp-proofing used by dsir_weights/unigram_logprob."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("ws")
    )
    # two corpus-scale aggregates (unigram, bigram), checkpointed at
    # vocab grain; BOTH totals derive from those aggregates, so the
    # corpus is scanned twice (the minimum — the two groupings differ),
    # not four times (the q_source_kl_divergence grain discipline)
    uc = (
        words.select(F.explode("ws").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    bigrams = words.select(
        F.explode(
            F.expr(
                "transform(slice(ws, 1, size(ws) - 1),"
                " (x, i) -> struct(x AS w1, ws[i + 1] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    bc_all = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    n = uc.agg(F.sum("c")).collect()[0][0] or 0
    m = bc_all.agg(F.sum("c")).collect()[0][0] or 0
    if m == 0:  # empty/degenerate corpus: no bigrams, empty result
        return spark.createDataFrame(
            [], "w1 string, w2 string, c long, pmi_micro long"
        )
    bc = bc_all.where(F.col("c") >= 10)
    u1 = uc.select(F.col("word").alias("w1"), F.col("c").alias("c1"))
    u2 = uc.select(F.col("word").alias("w2"), F.col("c").alias("c2"))
    ratio = (F.col("c").cast("double") / F.lit(float(m))) / (
        (F.col("c1").cast("double") / F.lit(float(n)))
        * (F.col("c2").cast("double") / F.lit(float(n)))
    )
    return (
        bc.join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            "c",
            F.round(F.round(F.log(ratio), 6) * 1e6, 0)
            .cast("long")
            .alias("pmi_micro"),
        )
        .orderBy(F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


_SQL_PMI_COLLOCATIONS = r"""
WITH w AS (SELECT string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
uni AS (SELECT unnest(ws) AS word FROM w),
uc AS (SELECT word, count(*) AS c FROM uni GROUP BY word),
tot AS (SELECT (SELECT count(*) FROM uni) AS n,
               (SELECT sum(len(ws) - 1) FROM w WHERE len(ws) > 1) AS m),
bg AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
       FROM w, unnest(range(1, len(ws))) AS r(i)),
bc AS (SELECT w1, w2, count(*) AS c FROM bg GROUP BY 1, 2 HAVING count(*) >= 10)
SELECT bc.w1, bc.w2, bc.c,
       CAST(round(round(ln((bc.c::DOUBLE / tot.m)
                           / ((u1.c::DOUBLE / tot.n) * (u2.c::DOUBLE / tot.n))),
                        6) * 1e6, 0) AS BIGINT) AS pmi_micro
FROM bc, tot
JOIN uc u1 ON bc.w1 = u1.word
JOIN uc u2 ON bc.w2 = u2.word
ORDER BY pmi_micro DESC, w1, w2
LIMIT 20
"""


def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-5-row median of order totals per customer.

    DuckDB has ``median(...) OVER``; Spark has no exact median window
    function, so the engine composes one: ``collect_list`` over the
    trailing frame, ``sort_array``, and middle-element selection. The
    frame is a constant 5 rows, so the per-row state is O(frame), not
    O(partition) — this survives arbitrarily long customer histories.

    Parity trap avoided: DuckDB's median interpolates even frames as
    ``lo + (hi - lo) * 0.5`` while the naive ``(lo + hi) / 2`` differs
    in the last ulp. Both sides therefore work on exact integer cents
    and output ``2 × median`` cents as a BIGINT (sum of the two middle
    values, or twice the middle one), which both engines compute
    exactly."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-4, 0)
    )
    arr = F.sort_array(F.collect_list(cents).over(w))
    k = F.size(arr)
    mid = ((k + 1) / 2).cast("int")
    half = (k / 2).cast("int")
    med2 = F.when(k % 2 == 1, F.element_at(arr, mid) * 2).otherwise(
        F.element_at(arr, half) + F.element_at(arr, half + 1)
    )
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            med2.alias("med2_cents"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(200)
    )


_SQL_ROLLING_MEDIAN = """
WITH c AS (SELECT o_custkey, o_orderdate, o_orderkey,
                  CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
           FROM orders)
SELECT o_custkey, o_orderkey,
       CAST(median(cents) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey
                                ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 2
            AS BIGINT) AS med2_cents
FROM c ORDER BY o_custkey, o_orderkey LIMIT 200
"""


#: PageRank constants: rank mass is tracked in integer nano-units so
#: every iteration is order-independent and bit-identical across
#: engines (no float accumulation anywhere); edge weights are reduced
#: to per-source micro-shares first so the per-edge product
#: 85 * rank * share stays < 2^63 (85 * 1e9 * 1e6 = 8.5e16).
_PR_SCALE = 1_000_000_000  # rank nano-units
_PR_SHARE = 1_000_000  # out-weight micro-share
_PR_ITERS = 5
#: edge-count gate below which the iteration runs on the driver
#: (tests pin both paths identical by forcing this to 0)
_PR_DRIVER_EDGE_GATE = 1_000_000


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-iteration PageRank over the nation-level trade graph.

    Edges: customer-nation → supplier-nation, weighted by lineitem
    count (the heavy, fully distributed part: a 4-table join over the
    fact table with map-side-combined edge aggregation). The iteration
    itself runs on the aggregated edge table — at most |nations|² rows
    — as five chained broadcast joins; Catalyst folds the tiny graph,
    while the same plan shape distributes if the vertex set grows.

    Exactness: ranks live in integer nano-units and per-edge
    contributions use truncating integer division (identical semantics
    for non-negative operands in Spark ``div`` and DuckDB ``//``), so
    the result is a deterministic BIGINT — no float sums to diverge
    between engines. Mass lost to truncation/dangling nodes leaks
    identically on both sides (documented, standard non-redistributing
    variant)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")

    from ..runtime import register_materialized

    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # edges feeds out_w AND the share join: the lazy checkpoint
        # collapses the two plan clones of the 4-table fact join into
        # one physical pass (the |nations|²-row result is what's kept)
        .localCheckpoint(eager=False)
    )
    register_materialized(edges)
    out = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    shares = (
        edges.join(out, "src")
        .select(
            "src",
            "dst",
            F.expr(f"CAST(w * {_PR_SHARE} AS BIGINT) div out_w").alias("share"),
        )
    )
    nodes = [r["n_nationkey"] for r in nation.select("n_nationkey").collect()]
    n_nodes = len(nodes)
    base = (15 * _PR_SCALE) // (100 * n_nodes)

    # Two physical paths, identical integer results (Python // equals
    # BIGINT div for the non-negative operands here), mirroring
    # dedup_components: the aggregated graph of a vertex-partitioned
    # rollup is broadcast-scale even at 100 TB (|nations|² rows), so
    # iterating Spark jobs over it wastes whole seconds of fixed
    # overhead per round; a graph over the gate iterates distributed.
    shares = shares.localCheckpoint(eager=True)
    # one bounded limit-collect decides the path AND fetches the
    # driver-path edges (the count-then-collect pair paid an extra job
    # per call — the connected_components idiom)
    head = shares.limit(_PR_DRIVER_EDGE_GATE + 1).collect()
    if len(head) <= _PR_DRIVER_EDGE_GATE:
        edge_list = [(r["src"], r["dst"], r["share"]) for r in head]
        rank = {v: _PR_SCALE // n_nodes for v in nodes}
        for _ in range(_PR_ITERS):
            incoming = dict.fromkeys(nodes, 0)
            for src, dst, share in edge_list:
                incoming[dst] += (85 * rank[src] * share) // (100 * _PR_SHARE)
            rank = {v: base + incoming[v] for v in nodes}
        rank_df = spark.createDataFrame(
            sorted(rank.items()), "node long, r long"
        )
    else:
        rank_df = nation.select(
            F.col("n_nationkey").alias("node"),
            F.lit(_PR_SCALE // n_nodes).cast("long").alias("r"),
        )
        for _ in range(_PR_ITERS):
            contrib = (
                shares.join(rank_df, shares.src == rank_df.node)
                .select(
                    F.col("dst").alias("node"),
                    F.expr(f"(85 * r * share) div (100 * {_PR_SHARE})").alias(
                        "c"
                    ),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("in_c"))
            )
            rank_df = (
                nation.select(F.col("n_nationkey").alias("node"))
                .join(contrib, "node", "left")
                .select(
                    "node",
                    (F.lit(base) + F.coalesce(F.col("in_c"), F.lit(0)))
                    .cast("long")
                    .alias("r"),
                )
                .localCheckpoint(eager=True)
            )
    return (
        rank_df.join(F.broadcast(nation), rank_df.node == nation.n_nationkey)
        .select(F.col("n_name"), F.col("r").alias("rank_nano"))
        .orderBy(F.desc("rank_nano"), F.asc("n_name"))
    )


_SQL_PAGERANK_TRADE = f"""
WITH edges AS (
  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  GROUP BY 1, 2),
shares AS (
  SELECT src, dst, (w * {_PR_SHARE}) // sum(w) OVER (PARTITION BY src) AS share
  FROM edges),
nn AS (SELECT count(*) AS n FROM nation),
r0 AS (SELECT n_nationkey AS node, {_PR_SCALE} // nn.n AS r FROM nation, nn),
{chr(10).join(
    f'''r{i + 1} AS (
  SELECT n.n_nationkey AS node,
         (15::BIGINT * {_PR_SCALE}) // (100 * nn.n)
         + COALESCE((SELECT sum((85 * p.r * s.share) // (100 * {_PR_SHARE}))
                     FROM shares s JOIN r{i} p ON s.src = p.node
                     WHERE s.dst = n.n_nationkey), 0) AS r
  FROM nation n, nn),'''
    for i in range(_PR_ITERS)
).rstrip(',')}
SELECT n_name, CAST(r AS BIGINT) AS rank_nano
FROM r{_PR_ITERS} JOIN nation ON node = n_nationkey
ORDER BY rank_nano DESC, n_name
"""


# --------------------------------------------------------------------------
# Registry
# --------------------------------------------------------------------------

CORPUS: dict[str, QuerySpec] = {
    "topk_cosine": QuerySpec(q_topk_cosine, _SQL_TOPK, "T1 exact top-k cosine"),
    "topk_cosine_filtered": QuerySpec(
        q_topk_filtered, _SQL_TOPK_FILTERED, "T1 + P5 metadata predicate pushdown"
    ),
    "pricing_summary": QuerySpec(q_pricing_summary, _SQL_PRICING, "hash-agg showcase"),
    "point_lookup": QuerySpec(q_point_lookup, _SQL_POINT, "P1/P2"),
    "projection_filter": QuerySpec(q_projection, _SQL_PROJECTION, "P4"),
    "fk_join_broadcast": QuerySpec(q_fk_join, _SQL_FK_JOIN, "J1"),
    "semi_join_membership": QuerySpec(q_semi_join, _SQL_SEMI, "J2/P5"),
    "anti_join_orphans": QuerySpec(q_anti_join, _SQL_ANTI, "J3/J4"),
    "window_cumsum": QuerySpec(q_window_cumsum, _SQL_CUMSUM, "W1/A2"),
    "topn_per_group": QuerySpec(q_topn_per_group, _SQL_TOPN, "W3"),
    "ordered_scan_limit": QuerySpec(q_ordered_scan, _SQL_ORDERED, "T2/T3"),
    "pagination": QuerySpec(q_pagination, _SQL_PAGINATION, "T3"),
    "distinct": QuerySpec(q_distinct, _SQL_DISTINCT, "A3"),
    "count_by_group": QuerySpec(q_count_by_group, _SQL_COUNT_GROUP, "A4"),
    "index_stats": QuerySpec(q_index_stats, _SQL_INDEX_STATS, "S15/A6"),
    "group_concat_ordered": QuerySpec(q_group_concat, _SQL_GROUP_CONCAT, "A1"),
    "union_distinct": QuerySpec(q_union, _SQL_UNION, "T4/T5"),
    "regex_extract": QuerySpec(q_regex_extract, _SQL_REGEX, "F8"),
    "doc_fingerprint": QuerySpec(q_fingerprint, _SQL_FINGERPRINT, "exact-dedup key"),
    "dedup_exact_count": QuerySpec(q_dedup_exact, _SQL_DEDUP_EXACT, "exact dedup"),
    "ngram_jaccard_dedup": QuerySpec(
        q_ngram_jaccard, _SQL_NGRAM_JACCARD, "word-3-gram Jaccard near-dup pairs"
    ),
    "minhash_lsh_dedup": QuerySpec(
        q_minhash_lsh, _SQL_MINHASH_LSH, "MinHash+LSH banded near-dup (verified)"
    ),
    "simhash_signatures": QuerySpec(
        q_simhash, _SQL_SIMHASH, "tf-weighted 60-bit SimHash per doc"
    ),
    "simhash_near_dup": QuerySpec(
        q_simhash_pairs, _SQL_SIMHASH_PAIRS, "SimHash hamming≤4 via pigeonhole bands"
    ),
    "embedding_near_dup": QuerySpec(
        q_embedding_near_dup, _SQL_EMBEDDING_NEAR_DUP, "top-20 cosine-closest pairs"
    ),
    "semdedup_summary": QuerySpec(
        q_semdedup, _golden_oracle("semdedup_summary", table="embeddings"),
        "SemDeDup: k-means cells + cluster-local cosine dedup "
        "(arXiv:2303.09540; seeded k-means → golden-parquet oracle)",
        golden=True,
    ),
    "dedup_components": QuerySpec(
        q_dedup_components, _SQL_DEDUP_COMPONENTS, "duplicate clusters via CC"
    ),
    "curation_summary": QuerySpec(
        q_curation_summary, _golden_oracle("curation_summary"),
        "full curation pipeline accounting (deterministic heuristics → "
        "golden-parquet oracle)",
        golden=True,
    ),
    "quality_scores": QuerySpec(q_quality, _SQL_QUALITY, "text quality features"),
    "line_dedup": QuerySpec(
        q_line_dedup, _SQL_LINE_DEDUP, "within-doc duplicate-line removal stats"
    ),
    "source_quota": QuerySpec(
        q_source_quota, _SQL_SOURCE_QUOTA, "per-source document quota cap"
    ),
    "pii_scrub": QuerySpec(
        q_pii_scrub, _SQL_PII_SCRUB,
        "regex PII redaction pass + per-source accounting (round 8)",
    ),
    "url_host_filter": QuerySpec(
        q_url_host_filter, _SQL_URL_HOST_FILTER,
        "URL host blocklist gate via broadcast table join (round 8)",
    ),
    "boilerplate_lines": QuerySpec(
        q_boilerplate_lines,
        _SQL_BOILERPLATE_LINES,
        "cross-doc boilerplate line detection (df >= 5)",
    ),
    "sectionize": QuerySpec(q_sectionize, _SQL_SECTIONIZE, "W2 section numbering"),
    "knn_join_topk": QuerySpec(
        q_knn_join, _SQL_KNN_JOIN, "batch k-NN join (broadcast + rank window)"
    ),
    "ivfpq_batch_topk": QuerySpec(
        q_ivfpq_batch_topk,
        _SQL_IVFPQ_BATCH_TOPK,
        "batch ADC serving: one probed-cell scan for many queries + exact re-rank",
    ),
    "shipping_priority": QuerySpec(
        q_shipping_priority, _SQL_SHIPPING_PRIORITY, "TPC-H Q3 shape, 3-way join top-N"
    ),
    "local_supplier_volume": QuerySpec(
        q_local_supplier_volume, _SQL_LOCAL_SUPPLIER, "TPC-H Q5 shape, 6-table join"
    ),
    "returned_items": QuerySpec(
        q_returned_items, _SQL_RETURNED_ITEMS, "TPC-H Q10 shape, top customers"
    ),
    "word_topk": QuerySpec(q_word_topk, _SQL_WORD_TOPK, "explode + agg + top-k"),
    "moment_stats": QuerySpec(
        q_moment_stats, _SQL_MOMENT_STATS, "stddev/variance/mean per group"
    ),
    "stratified_sample": QuerySpec(
        q_stratified_sample,
        _SQL_STRATIFIED_SAMPLE,
        "deterministic md5-bucket per-stratum sampling",
    ),
    "approx_distinct": QuerySpec(
        q_approx_distinct, _golden_oracle("approx_distinct", table="lineitem"),
        "HLL++ approximate distinct counts (deterministic sketch → "
        "golden-parquet oracle)",
        golden=True,
    ),
    "range_join_pairs": QuerySpec(
        q_range_join, _SQL_RANGE_JOIN, "bucketed interval join (exact)"
    ),
    "asof_last_view": QuerySpec(
        q_asof_join, _SQL_ASOF_JOIN, "as-of join via carry-forward window"
    ),
    "rollup_agg": QuerySpec(q_rollup_agg, _SQL_ROLLUP, "ROLLUP grouping sets"),
    "cube_agg": QuerySpec(q_cube_agg, _SQL_CUBE, "CUBE grouping sets"),
    "sql_exists_subquery": QuerySpec(
        q_sql_exists, _SQL_ENTRY_TEXT, "ANSI SQL entry: correlated EXISTS/NOT EXISTS"
    ),
    "full_outer_join": QuerySpec(
        q_full_outer_join, _SQL_FULL_OUTER, "full outer join, both sides kept"
    ),
    "unpivot_metrics": QuerySpec(q_unpivot, _SQL_UNPIVOT, "wide→long stack/unpivot"),
    "pivot_status": QuerySpec(q_pivot_status, _SQL_PIVOT, "pivot / filtered counts"),
    "set_ops": QuerySpec(q_set_ops, _SQL_SET_OPS, "INTERSECT / EXCEPT cohorts"),
    "window_ranks": QuerySpec(
        q_window_ranks, _SQL_WINDOW_RANKS, "rank/dense_rank/ntile/lag/lead"
    ),
    "percentiles": QuerySpec(
        q_percentiles, _SQL_PERCENTILES, "exact interpolated percentiles"
    ),
    "date_extract": QuerySpec(
        q_date_extract, _SQL_DATE_EXTRACT, "date part extraction + ISO dow"
    ),
    "event_hourly_window": QuerySpec(
        q_event_hourly, _SQL_EVENT_HOURLY, "tumbling-hour event aggregation"
    ),
    "stream_hourly_counts": QuerySpec(
        q_stream_hourly,
        _SQL_STREAM_HOURLY,
        "Structured Streaming availableNow drain == batch GROUP BY",
    ),
    "event_sessionization": QuerySpec(
        q_sessionization, _SQL_SESSIONIZATION, "gap-based sessionization windows"
    ),
    "json_props_extract": QuerySpec(
        q_json_props, _SQL_JSON_PROPS, "JSON prop extraction + agg"
    ),
    # ANN family: seeded fits + exact re-rank make every entry
    # deterministic on the fixed testdata, so each is BOTH
    # golden-parquet value-pinned AND recall-gated per run
    "ann_ivf_topk": QuerySpec(
        q_ann_ivf, _golden_oracle("ann_ivf_topk", table="embeddings"),
        "IVF (k-means cells) approx top-k (golden-parquet oracle)",
        quality=ann_recall_at_10, golden=True,
    ),
    "ann_lsh_topk": QuerySpec(
        q_ann_lsh, _golden_oracle("ann_lsh_topk", table="embeddings"),
        "hyperplane-LSH approx top-k (golden-parquet oracle)",
        quality=ann_recall_at_10, golden=True,
    ),
    "ann_pq_topk": QuerySpec(
        q_ann_pq, _golden_oracle("ann_pq_topk", table="embeddings"),
        "product-quantization ADC top-k + exact re-rank (golden oracle)",
        quality=ann_recall_at_10, golden=True,
    ),
    "ann_ivfpq_topk": QuerySpec(
        q_ann_ivfpq, _golden_oracle("ann_ivfpq_topk", table="embeddings"),
        "IVF cells + residual-PQ ADC top-k + exact re-rank (golden oracle)",
        quality=ann_recall_at_10, golden=True,
    ),
    "ann_sq8_topk": QuerySpec(
        q_ann_sq8, _golden_oracle("ann_sq8_topk", table="embeddings"),
        "scalar-quantization byte-code top-k + exact re-rank (golden oracle)",
        quality=ann_recall_at_10, golden=True,
    ),
    "pypdf_chunks": QuerySpec(
        q_pypdf_chunks, _golden_oracle("pypdf_chunks"),
        "F2/F3 two-pass chunk pack (golden-parquet oracle)",
        golden=True,
    ),
    "nougat_chunks": QuerySpec(
        q_nougat_chunks, _golden_oracle("nougat_chunks"),
        "F4/F5/F6/W2/A1 nougat pack (golden-parquet oracle)",
        golden=True,
    ),
    "lang_id": QuerySpec(
        q_lang_id, _lang_id_oracle(), "stopword-argmax language identification"
    ),
    "string_munging": QuerySpec(
        q_string_munging, _SQL_STRING_MUNGING, "F7/F8/F9 url/path/unescape trio"
    ),
    "markdown_clean": QuerySpec(
        q_markdown_clean, _SQL_MARKDOWN_CLEAN, "F5 table strip + warning removal"
    ),
    "classify_paragraphs": QuerySpec(
        q_classify_paragraphs, _SQL_CLASSIFY, "F6 prefix-precedence classification"
    ),
    "token_counts": QuerySpec(
        q_token_counts, _SQL_TOKEN_COUNTS, "whitespace/distinct token + char counts"
    ),
    "bpe_token_counts": QuerySpec(
        q_bpe_token_counts, _golden_oracle("bpe_token_counts"),
        "BPE-ish pre-tokenizer counts (pandas UDF, golden-parquet oracle)",
        golden=True,
    ),
    "embed_documents": QuerySpec(
        q_embed_documents, _golden_oracle("embed_documents"),
        "M1 batch embedding generation (hashing embedder, golden oracle)",
        golden=True,
    ),
    "multimodal_features": QuerySpec(
        q_multimodal_features, _golden_oracle("multimodal_features"),
        "binary decode → feature extract plumbing (golden-parquet oracle)",
        golden=True,
    ),
    "forecast_revenue": QuerySpec(
        q_forecast_revenue, _SQL_FORECAST_REVENUE, "TPC-H Q6 shape, pushdown showcase"
    ),
    "shipmode_priority": QuerySpec(
        q_shipmode_priority, _SQL_SHIPMODE_PRIORITY, "TPC-H Q12 shape, conditional agg"
    ),
    "promo_revenue": QuerySpec(
        q_promo_revenue, _SQL_PROMO_REVENUE, "TPC-H Q14 shape, conditional ratio"
    ),
    "large_orders": QuerySpec(
        q_large_orders, _SQL_LARGE_ORDERS, "TPC-H Q18 shape, HAVING + join"
    ),
    "event_funnel": QuerySpec(
        q_event_funnel, _SQL_EVENT_FUNNEL, "ordered multi-stage funnel counts"
    ),
    "retention_cohorts": QuerySpec(
        q_retention_cohorts, _SQL_RETENTION_COHORTS, "weekly cohort retention matrix"
    ),
    "grouping_sets_agg": QuerySpec(
        q_grouping_sets, _SQL_GROUPING_SETS_TEXT, "arbitrary GROUPING SETS + grouping()"
    ),
    "minmax_by": QuerySpec(
        q_minmax_by, _SQL_MINMAX_BY, "argmax/argmin aggregates, composite tiebreak"
    ),
    "corr_stats": QuerySpec(
        q_corr_stats, _SQL_CORR_STATS, "bivariate corr per group, single pass"
    ),
    "part_value_share": QuerySpec(
        q_part_value_share, _SQL_PART_VALUE_SHARE, "TPC-H Q11 shape, scalar subquery"
    ),
    "small_qty_revenue": QuerySpec(
        q_small_qty_revenue, _SQL_SMALL_QTY_REVENUE, "TPC-H Q17 shape, correlated avg"
    ),
    "or_predicate_revenue": QuerySpec(
        q_or_predicate_revenue, _SQL_OR_PREDICATE_REVENUE,
        "TPC-H Q19 shape, OR-of-ANDs with factored pushdown",
    ),
    "cust_order_histogram": QuerySpec(
        q_cust_order_histogram, _SQL_CUST_ORDER_HISTOGRAM,
        "TPC-H Q13 shape, count-of-counts incl. zeros",
    ),
    "top_supplier_revenue": QuerySpec(
        q_top_supplier_revenue, _SQL_TOP_SUPPLIER_REVENUE,
        "TPC-H Q15 shape, argmax via broadcast scalar",
    ),
    "rich_never_ordered": QuerySpec(
        q_rich_never_ordered, _SQL_RICH_NEVER_ORDERED,
        "TPC-H Q22 shape, global-avg scalar + anti join",
    ),
    "volume_shipping": QuerySpec(
        q_volume_shipping, _SQL_VOLUME_SHIPPING,
        "TPC-H Q7 shape, nation-pair multi-join",
    ),
    "market_share": QuerySpec(
        q_market_share, _SQL_MARKET_SHARE, "TPC-H Q8 shape, conditional ratio by year"
    ),
    "pii_redaction": QuerySpec(
        q_pii_redaction, _SQL_PII_REDACTION,
        "PII scrub: planted email/phone, regexp redact + hit counts",
    ),
    "vocab_stats": QuerySpec(
        q_vocab_stats, _SQL_VOCAB_STATS,
        "per-source vocabulary: tokens/types/hapax/TTR",
    ),
    "skewed_agg_salted": QuerySpec(
        q_skewed_agg_salted, _SQL_SKEWED_AGG,
        "salted two-level agg (skew.py) == plain GROUP BY oracle",
    ),
    "moving_avg_revenue": QuerySpec(
        q_moving_avg_revenue, _SQL_MOVING_AVG_REVENUE,
        "7-day trailing moving average, exact integer cents",
    ),
    "event_gap_islands": QuerySpec(
        q_event_gap_islands, _SQL_EVENT_GAP_ISLANDS,
        "gaps-and-islands over date spine (sequence/generate_series)",
    ),
    "bm25_topk": QuerySpec(
        q_bm25_topk, _SQL_BM25, "Okapi BM25 keyword top-k, native expressions"
    ),
    "text_index_incremental": QuerySpec(
        q_text_index_incremental,
        _SQL_BM25,
        "persisted BM25 index: partial build + upsert + incremental "
        "refresh == full-corpus scores (derived-index sync contract)",
    ),
    "mmr_rerank": QuerySpec(
        q_mmr_rerank, _SQL_MMR_RERANK,
        "MMR diversity re-rank of per-query cosine shortlists (round 8)",
    ),
    "retrieval_eval": QuerySpec(
        q_retrieval_eval, _SQL_RETRIEVAL_EVAL,
        "recall/MRR/nDCG@10 of BM25 + RRF vs cosine truth (round 8)",
    ),
    "sq8_fidelity": QuerySpec(
        q_sq8_fidelity, _SQL_SQ8_FIDELITY,
        "SQ8 quantizer ranking fidelity vs exact cosine, by value (round 8)",
    ),
    "hybrid_rrf_topk": QuerySpec(
        q_hybrid_rrf, _SQL_HYBRID_RRF,
        "hybrid retrieval: BM25 ⊕ cosine via reciprocal-rank fusion",
    ),
    "stream_dedup_counts": QuerySpec(
        q_stream_dedup, _SQL_STREAM_DEDUP,
        "streaming exactly-once: redelivered stream deduped == batch counts",
    ),
    "stream_sessions": QuerySpec(
        q_stream_sessions,
        _SQL_STREAM_SESSIONS,
        "applyInPandasWithState gap sessions == batch oracle",
    ),
    "stream_sessions_native": QuerySpec(
        q_stream_sessions_native,
        _SQL_STREAM_SESSIONS,
        "JVM session_window gap sessions == same batch oracle",
    ),
    "stream_static_join": QuerySpec(
        q_stream_static_join, _SQL_STREAM_STATIC,
        "streaming enrichment: stream-static dim join == batch join",
    ),
    "stream_index_ingest": QuerySpec(
        q_stream_index_ingest, _SQL_STREAM_INDEX_INGEST,
        "streaming upserts into the snapshot-isolated vector index",
    ),
    "dataset_split": QuerySpec(
        q_dataset_split, _SQL_DATASET_SPLIT,
        "deterministic 80/10/10 id-hash train/val/test split",
    ),
    "quality_bins": QuerySpec(
        q_quality_bins, _SQL_QUALITY_BINS,
        "equal-width quality binning vs global min/max scalar",
    ),
    "contamination_check": QuerySpec(
        q_contamination_check, _SQL_CONTAMINATION,
        "benchmark decontamination: 5-gram overlap semi join",
    ),
    "dup_spans": QuerySpec(
        q_dup_spans, _SQL_DUP_SPANS,
        "substring dedup: maximal duplicated 5-gram token spans per source",
    ),
    "novelty_check": QuerySpec(
        q_novelty_check, _SQL_NOVELTY,
        "bloom-pruned incremental novelty (exact; anti-join oracle)",
    ),
    "snapshot_diff": QuerySpec(
        q_snapshot_diff, _SQL_SNAPSHOT_DIFF,
        "dataset-version diff: added/removed/changed/unchanged counts",
    ),
    "dsir_weights": QuerySpec(
        q_dsir_weights, _SQL_DSIR,
        "DSIR importance weights: hashed-bow target/raw log-ratio top-100",
    ),
    "pack_sequences": QuerySpec(
        q_pack_sequences, _SQL_PACK_SEQUENCES,
        "training-sequence next-fit packing per id-hash bucket",
    ),
    "domain_mix": QuerySpec(
        q_domain_mix, _SQL_DOMAIN_MIX,
        "uniform-target domain reweighting: capped per-source sampling weights",
    ),
    "min_cost_supplier": QuerySpec(
        q_min_cost_supplier, _SQL_MIN_COST_SUPPLIER,
        "TPC-H Q2 shape, decorrelated min_by per part",
    ),
    "nation_year_profit": QuerySpec(
        q_nation_year_profit, _SQL_NATION_YEAR_PROFIT,
        "TPC-H Q9 shape, 5-table margin rollup",
    ),
    "parts_supplier_counts": QuerySpec(
        q_parts_supplier_counts, _SQL_PARTS_SUPPLIER_COUNTS,
        "TPC-H Q16 shape, NOT IN as anti join + count distinct",
    ),
    "potential_promotion": QuerySpec(
        q_potential_promotion, _SQL_POTENTIAL_PROMOTION,
        "TPC-H Q20 shape, windowed share threshold + semi chain",
    ),
    "waiting_suppliers": QuerySpec(
        q_waiting_suppliers, _SQL_WAITING_SUPPLIERS,
        "TPC-H Q21 shape, double-EXISTS as stacked windows",
    ),
    "unigram_logprob": QuerySpec(
        q_unigram_logprob, _SQL_UNIGRAM_LOGPROB,
        "unigram LM quality scoring, exact-decimal logprob sums",
    ),
    "gopher_quality": QuerySpec(
        q_gopher_quality, _SQL_GOPHER_QUALITY,
        "Gopher-style repetition/quality gate per source",
    ),
    "nb_quality_score": QuerySpec(
        q_nb_quality, _SQL_NB_QUALITY,
        "Naive-Bayes seed-vs-rest quality classifier, trained in-plan",
    ),
    "pmi_collocations": QuerySpec(
        q_pmi_collocations, _SQL_PMI_COLLOCATIONS,
        "top bigram collocations by PMI (micro-unit-exact scoring)",
    ),
    "rolling_median": QuerySpec(
        q_rolling_median, _SQL_ROLLING_MEDIAN,
        "exact trailing-window median composed from collect_list",
    ),
    "pagerank_trade": QuerySpec(
        q_pagerank_trade, _SQL_PAGERANK_TRADE,
        "5-iteration integer-exact PageRank over the nation trade graph",
    ),
    "stream_stream_join": QuerySpec(
        q_stream_stream_join, _SQL_STREAM_STREAM,
        "watermarked stream-stream interval join (view→purchase attribution)",
    ),
    "bpe_train_merges": QuerySpec(
        q_bpe_train_merges, _golden_oracle("bpe_train_merges"),
        "distributed byte-level BPE training (golden-parquet oracle)",
        golden=True,
    ),
    "weighted_sample": QuerySpec(
        q_weighted_sample, _SQL_WEIGHTED_SAMPLE,
        "Efraimidis–Spirakis weighted sample, md5-derandomized",
    ),
    "heavy_hitters": QuerySpec(
        q_heavy_hitters, _SQL_HEAVY_HITTERS,
        "exact φ-frequent tokens via Misra-Gries sketch-then-verify",
    ),
    "equidepth_deciles": QuerySpec(
        q_equidepth_deciles, _SQL_EQUIDEPTH_DECILES,
        "equal-depth ntile binning with unique-tiebreak ordering",
    ),
    "source_kl_divergence": QuerySpec(
        q_source_kl_divergence, _SQL_SOURCE_KL,
        "per-source unigram KL drift vs corpus (micro-nat-exact sums)",
    ),
    "scd2_intervals": QuerySpec(
        q_scd2_intervals, _SQL_SCD2_INTERVALS,
        "SCD-type-2 validity intervals from a changelog (CDC→dimension)",
    ),
    "window_distribution": QuerySpec(
        q_window_distribution, _SQL_WINDOW_DISTRIBUTION,
        "percent_rank / cume_dist / nth_value window surface",
    ),
    "sliding_passages": QuerySpec(
        q_sliding_passages, _SQL_SLIDING_PASSAGES,
        "RAG passage windows: 32-token slices at stride 16, zero shuffle",
    ),
    "tfidf_top_terms": QuerySpec(
        q_tfidf_top_terms, _SQL_TFIDF_TOP_TERMS,
        "top-5 distinctive terms per source (integer tf×idf_micro)",
    ),
    "pca_embeddings": QuerySpec(
        q_pca_embeddings, _golden_oracle("pca_embeddings", table="embeddings"),
        "PCA whitening (FAISS PCAMatrix stage): sample fit, Arrow apply",
        quality=_pca_quality,
        golden=True,
    ),
    "cross_source_overlap": QuerySpec(
        q_cross_source_overlap, _SQL_CROSS_SOURCE_OVERLAP,
        "cross-source 5-gram contamination matrix (distinct-gram grain)",
    ),
}


def query_map() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.fn for name, spec in CORPUS.items()}


def oracle_sql_map() -> dict[str, str]:
    return {name: spec.oracle for name, spec in CORPUS.items() if spec.oracle}
