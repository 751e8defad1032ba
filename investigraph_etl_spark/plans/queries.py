"""Driver-facing query registry: SURVEY.md §2 operator coverage, each entry a
PySpark plan + value-identical DuckDB oracle SQL.

Conventions that make the driver's order-insensitive value-hash pass:

- every computed column is aliased identically in both faces;
- computed integers are cast to BIGINT on the Spark side (DuckDB count/len/
  row_number emit BIGINT);
- money sums go through DECIMAL(18,2) so addition is exact and engine-order
  independent; cosine/dot use the order-stable double fold
  (functions/vectors.py); all other hashing is md5 (portable).

Reference parity notes sit on each query; SURVEY.md §2 maps operators O1-O25.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.functions import dates as _DT
from investigraph_etl_spark.functions import text as X

DT_LENIENT_SQL = _DT.lenient_to_date_sql("raw")
from investigraph_etl_spark.operators import corpus as C
from investigraph_etl_spark.operators import dedup as D
from investigraph_etl_spark.operators import multimodal as M
from investigraph_etl_spark.operators import similarity as S

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30-minute sessionization gap


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _dec(col: str) -> Column:
    return F.col(col).cast("decimal(18,2)")


# =============================================================== CDC core ====
# The engine's own semantics exercised on the driver's `events` table:
# key = (conv_id, turn_idx) derived deterministically, op = delete on 'error'
# events, LWW stamp = (ts, event_id).


def _as_changes(events: DataFrame) -> DataFrame:
    """events → change tail (op, conv_id, turn_idx, value, props, ts, seq)."""
    return events.select(
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
        F.col("user_id").cast("string").alias("conv_id"),
        F.pmod(X.hash32(F.col("event_type")), F.lit(100000))
        .cast("int")
        .alias("turn_idx"),
        F.col("value"),
        F.col("props"),
        F.col("ts"),
        F.col("event_id").alias("seq"),
    )


_CHANGES_SQL = f"""
SELECT CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
       user_id::VARCHAR AS conv_id,
       (({X.hash32_sql('event_type')}) % 100000)::INTEGER AS turn_idx,
       value, props, ts, event_id AS seq
FROM events
"""

_LWW_SQL = f"""
WITH ev AS ({_CHANGES_SQL}),
w AS (
  SELECT * FROM ev
  QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx
                             ORDER BY ts DESC, seq DESC) = 1
)
"""


def q_cdc_lww_resolve(spark, sf_dir):
    """O11/O12: LWW reduce (max_by hash-agg) — one winner per key.

    Oracle uses a ranking window; the engine uses partial-agg ``max_by`` —
    same semantics, cheaper plan (no sort of the full input).
    """
    ev = _as_changes(_t(spark, sf_dir, "events"))
    return resolve_lww(ev)


def q_cdc_lww_salted(spark, sf_dir):
    """O10 + north-star skew handling: salted two-phase reduce, same answer."""
    ev = _as_changes(_t(spark, sf_dir, "events"))
    return resolve_lww(ev, n_salts=8)


_CDC_LWW_ORACLE = (
    _LWW_SQL + "SELECT conv_id, turn_idx, op, value, props, ts, seq FROM w"
)


def q_cdc_apply_epochs(spark, sf_dir):
    """Flagship: full multi-epoch CDC apply through the LakeTable MERGE path.

    The tail is split into 4 epochs and applied sequentially (normalize →
    LWW resolve → copy-on-write MERGE with commit log + lineage metrics);
    the final table state must equal the oracle's one-shot replay — the
    partitioning-invariance property the reference pins with its
    chunk_size tests (/root/reference/tests/test_pipeline.py:72-79).
    """
    from investigraph_etl_spark.cdc.apply import apply_events_batch
    from investigraph_etl_spark.lake.table import LakeTable

    ev = _as_changes(_t(spark, sf_dir, "events")).withColumn(
        "epoch", F.pmod(F.col("seq"), F.lit(4))
    )
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("turn_idx", T.IntegerType(), False),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
            T.StructField("ts", T.TimestampType(), True),
        ]
    )
    root = os.path.join(
        tempfile.gettempdir(), f"cdc-apply-{uuid.uuid4().hex[:8]}"
    )
    table = LakeTable.create(spark, root, schema, n_buckets=8)
    try:
        for e in range(4):
            apply_events_batch(
                table,
                ev.filter(F.col("epoch") == e).drop("epoch"),
                app_id="driver-check",
                epoch_id=e,
            )
        # Materialize before deleting the table dir — repeated driver/bench
        # invocations must leave no /tmp/cdc-apply-* residue. Row volume is
        # one row per surviving key at check scale (hundreds to low
        # thousands); the round-trip is what makes the cleanup safe.
        out = table.read()
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


_CDC_APPLY_ORACLE = (
    _LWW_SQL
    + "SELECT conv_id, turn_idx, value, props, ts FROM w WHERE op != 'delete'"
)


def q_cdc_dedup_commitlog(spark, sf_dir):
    """O19/O20: commit-log dedup as a left_anti join — events whose epoch
    token is already committed are skipped (reference analog: content-keyed
    task cache, /root/reference/investigraph/pipeline.py:37-47)."""
    ev = _t(spark, sf_dir, "events")
    with_epoch = ev.select(
        "event_id", F.pmod(F.col("event_id"), F.lit(10)).alias("epoch")
    )
    committed = spark.range(0, 10, 1).filter(
        F.pmod(F.col("id"), F.lit(3)) == 0
    ).select(F.col("id").alias("epoch"))
    return (
        with_epoch.join(F.broadcast(committed), "epoch", "left_anti")
        .groupBy("epoch")
        .agg(F.count(F.lit(1)).alias("n_pending"))
    )


_CDC_DEDUP_ORACLE = """
WITH e AS (SELECT event_id, event_id % 10 AS epoch FROM events),
committed AS (SELECT i AS epoch FROM generate_series(0, 9) t(i) WHERE i % 3 = 0)
SELECT epoch, count(*) AS n_pending
FROM e WHERE epoch NOT IN (SELECT epoch FROM committed)
GROUP BY epoch
"""


# ========================================================= relational ops ====


def q_agg_pricing_summary(spark, sf_dir):
    """O12/O13 hash agg (TPC-H Q1 shape): exact decimal sums, map-side
    partial agg, one shuffle on the 4-value grouping key."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            # exact decimal product (scale 4), summed exactly, cast to double
            # at the end — value*10^4 < 2^53, so the double is exact in both
            # engines (no rounding-mode divergence).
            F.sum(
                _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - _dec("l_discount"))
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_AGG_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity::DECIMAL(18,2))::DOUBLE AS sum_qty,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_base_price,
       sum((l_extendedprice::DECIMAL(18,2)) * (1::DECIMAL(18,2) - l_discount::DECIMAL(18,2)))::DOUBLE AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_join_revenue_by_segment(spark, sf_dir):
    """⊕ join coverage: broadcast the small dim (customer) against orders —
    no shuffle of the fact side; Catalyst + AQE pick broadcast-hash."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


_JOIN_REVENUE_ORACLE = """
SELECT c_mktsegment,
       sum(o_totalprice::DECIMAL(18,2))::DOUBLE AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_topk_orders(spark, sf_dir):
    """O21 top-N: global top-10 by totalprice, deterministic tie-break."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


_TOPK_ORDERS_ORACLE = """
SELECT o_orderkey, o_totalprice, o_orderpriority
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
"""


def q_anti_join_customers(spark, sf_dir):
    """Set-op coverage (O20 analog): customers with no orders, left_anti."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


_ANTI_JOIN_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_semi_join_parts(spark, sf_dir):
    """Semi-join: parts that appear in at least one lineitem."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_semi")
        .select("p_partkey", "p_brand")
    )


_SEMI_JOIN_ORACLE = """
SELECT p_partkey, p_brand FROM part
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
"""


def q_union_tails(spark, sf_dir):
    """Multi-source union (reference: sequential multi-source pipelines,
    /root/reference/investigraph/model/context.py:101-105) →
    unionByName + distinct."""
    ev = _t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "click").select("event_id", "user_id")
    b = ev.filter(F.col("value") > 50).select("event_id", "user_id")
    return a.unionByName(b).distinct()


_UNION_TAILS_ORACLE = """
SELECT event_id, user_id FROM events WHERE event_type = 'click'
UNION
SELECT event_id, user_id FROM events WHERE value > 50
"""


def q_window_running_total(spark, sf_dir):
    """⊕ window coverage: per-customer running order total (frame window)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _t(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(_dec("o_totalprice")).over(w).cast("double").alias("running_total"),
        )
    )


_WINDOW_RUNNING_ORACLE = """
SELECT o_custkey, o_orderkey,
       sum(o_totalprice::DECIMAL(18,2)) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::DOUBLE AS running_total
FROM orders
"""


def q_sessionize_events(spark, sf_dir):
    """Gap-based sessionization (streaming session-window analog, batch form):
    new session when > 30 min since the user's previous event."""
    ev = _t(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_ltz = F.col("ts").cast("timestamp")  # unix_micros rejects NTZ; UTC session tz
    gap = F.unix_micros(ts_ltz) - F.unix_micros(F.lag(ts_ltz).over(order))
    new_s = F.when(gap.isNull() | (gap > SESSION_GAP_US), 1).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.withColumn("new_s", new_s)
        .withColumn("session_id", F.sum("new_s").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
        )
    )


_SESSIONIZE_ORACLE = f"""
WITH x AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         (sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           )::BIGINT AS session_id
  FROM x
)
SELECT user_id, session_id, count(*) AS n_events, min(ts) AS session_start
FROM s GROUP BY user_id, session_id
"""


def q_tumbling_hourly(spark, sf_dir):
    """Tumbling event-time window (streaming-compatible shape, batch form)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("value")).cast("double").alias("sum_value"),
        )
    )


_TUMBLING_ORACLE = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2
"""


def q_lenient_dates(spark, sf_dir):
    """Tolerant multi-format date parsing (reference: dateparser at
    /root/reference/investigraph/model/source.py:25-27; here a Catalyst
    try_to_timestamp coalesce chain — functions/dates.py). Each order's date
    is rendered in one of three wire formats by key, then recovered."""
    from investigraph_etl_spark.functions import dates as DT

    o = _t(spark, sf_dir, "orders")
    wire = (
        F.when(
            F.pmod("o_orderkey", F.lit(3)) == 0,
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        )
        .when(
            F.pmod("o_orderkey", F.lit(3)) == 1,
            F.date_format("o_orderdate", "dd/MM/yyyy"),
        )
        .otherwise(F.date_format("o_orderdate", "yyyyMMdd"))
    )
    out = o.select("o_orderkey", wire.alias("raw"))
    return out.select(
        "o_orderkey",
        "raw",
        DT.lenient_to_date(F.col("raw")).alias("parsed"),
    )


_LENIENT_DATES_ORACLE = f"""
WITH wire AS (
  SELECT o_orderkey,
         CASE o_orderkey % 3
           WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
           WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
           ELSE strftime(o_orderdate, '%Y%m%d')
         END AS raw
  FROM orders
)
SELECT o_orderkey, raw, {DT_LENIENT_SQL} AS parsed FROM wire
"""


def q_json_props(spark, sf_dir):
    """JSON fns (reference serializes records as JSON,
    /root/reference/investigraph/pipeline.py:153-154): extract props.k."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum(F.col("k").cast("long")).alias("sum_k"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_JSON_PROPS_ORACLE = """
SELECT event_type,
       sum((json_extract_string(props, '$.k')::INTEGER)::BIGINT)::BIGINT AS sum_k,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_keygen_sha(spark, sf_dir):
    """O9 deterministic keying: sha256 over key columns (reference:
    make_id sha1 keying, /root/reference/investigraph/util.py:29-42)."""
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.sha2(F.concat_ws("|", F.col("c_name"), F.col("c_mktsegment")), 256)
        .alias("entity_id"),
    )


_KEYGEN_ORACLE = """
SELECT c_custkey, sha256(c_name || '|' || c_mktsegment) AS entity_id
FROM customer
"""


def q_project_split_explode(spark, sf_dir):
    """O7/O8: split → explode (1 record → N) → count by token (the
    flatMap-then-aggregate shape of the reference's multi-entity transform,
    /root/reference/investigraph/logic/transform.py:27-29)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(X.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SPLIT_EXPLODE_ORACLE = f"""
SELECT t.token, count(*) AS n
FROM (SELECT unnest({X.tokens_sql('text')}) AS token FROM documents) t
GROUP BY t.token
"""


def q_filter_declarative(spark, sf_dir):
    """O6 declarative σ: filters + filters_not
    (/root/reference/investigraph/model/mapping.py:34-35)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.filter(
        (F.col("lang") == "en") & ~(F.col("source") == "src0")
    ).select("doc_id", "lang", "source")


_FILTER_ORACLE = """
SELECT doc_id, lang, source FROM documents
WHERE lang = 'en' AND NOT source = 'src0'
"""


def q_frame_ops(spark, sf_dir):
    """O5 declarative frame-op playbook (reference pandas operations,
    /root/reference/tests/fixtures/ec_meetings/config.yml:28-35): the YAML op
    list compiles to Catalyst transforms (config.compile_frame_op). Chain:
    drop text → distinct (lang, source) pairs → rename → typed count col."""
    from investigraph_etl_spark.config import apply_frame_ops

    docs = _t(spark, sf_dir, "documents").select("lang", "source", "n_chars")
    out = apply_frame_ops(
        docs,
        [
            {"handler": "DataFrame.drop", "options": {"columns": "n_chars"}},
            {"handler": "DataFrame.drop_duplicates"},
            {"handler": "DataFrame.rename", "options": {"columns": {"lang": "language"}}},
            {"handler": "DataFrame.query", "options": {"expr": "source != 'src0'"}},
        ],
    )
    return out


_FRAME_OPS_ORACLE = """
SELECT DISTINCT lang AS language, source FROM documents WHERE source != 'src0'
"""


def q_limit_preview(spark, sf_dir):
    """O21 inspect/preview: deterministic first-N."""
    return (
        _t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(5)
        .select("doc_id", "lang", "n_chars")
    )


_LIMIT_ORACLE = "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id LIMIT 5"


# ========================================================== text analysis ====


def q_text_quality(spark, sf_dir):
    qf = X.quality_features(F.col("text"))
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        qf["n_chars"].cast("long").alias("n_chars"),
        qf["n_tokens"].cast("long").alias("n_tokens"),
        qf["punct_ratio"].alias("punct_ratio"),
        qf["stopword_ratio"].alias("stopword_ratio"),
        qf["mean_token_len"].alias("mean_token_len"),
    )


_qfs = X.quality_features_sql("text")
_TEXT_QUALITY_ORACLE = f"""
SELECT doc_id,
       ({_qfs['n_chars']})::BIGINT AS n_chars,
       ({_qfs['n_tokens']})::BIGINT AS n_tokens,
       {_qfs['punct_ratio']} AS punct_ratio,
       {_qfs['stopword_ratio']} AS stopword_ratio,
       {_qfs['mean_token_len']} AS mean_token_len
FROM documents
"""


def q_text_langid(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        X.lang_id(F.col("text")).alias("lang_pred"),
        X.lang_confidence(F.col("text")).alias("lang_conf"),
    )


_TEXT_LANGID_ORACLE = (
    f"SELECT doc_id, {X.lang_id_sql('text')} AS lang_pred, "
    f"{X.lang_confidence_sql('text')} AS lang_conf FROM documents"
)


def q_text_tokens(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        X.n_tokens(F.col("text")).cast("long").alias("n_ws_tokens"),
        X.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
    )


_TEXT_TOKENS_ORACLE = f"""
SELECT doc_id,
       ({X.n_tokens_sql('text')})::BIGINT AS n_ws_tokens,
       ({X.bpe_token_count_sql('text')})::BIGINT AS n_bpe_tokens
FROM documents
"""


def q_text_fingerprint(spark, sf_dir):
    return _t(spark, sf_dir, "documents").select(
        "doc_id", X.fingerprint(F.col("text")).alias("fp")
    )


_TEXT_FP_ORACLE = (
    f"SELECT doc_id, {X.fingerprint_sql('text')} AS fp FROM documents"
)


# ================================================================== dedup ====


# Oracle faces run kernel="md5" (the one hash portable to DuckDB — see
# functions/text.KERNELS); bench.py times the same operators with the
# production xxhash64 kernel via PROD_QUERIES below.


def q_dedup_exact(spark, sf_dir):
    return D.exact_duplicates(_t(spark, sf_dir, "documents"), kernel="md5")


def q_dedup_minhash(spark, sf_dir):
    return D.minhash_neardup(
        _t(spark, sf_dir, "documents"), shingle_k=2, threshold=0.35, kernel="md5"
    )


def q_dedup_simhash(spark, sf_dir):
    return D.simhash_neardup(
        _t(spark, sf_dir, "documents"), max_hamming=3, kernel="md5"
    )


def q_dedup_ngram(spark, sf_dir):
    return D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        shingle_k=3,
        threshold=0.2,
        max_df=20,
        kernel="md5",
    )


#: Small-corpus LSH geometry for the sf0.01 oracle face: 4 tables × 6 planes
#: = 64 buckets/table (~30 vectors/bucket at 2 k vectors). The LIBRARY default
#: (similarity.N_PLANES = 16) is the 10^10-scale setting — see the geometry
#: note on similarity.N_TABLES.
_LSH_SMALL = dict(n_tables=4, n_planes=6)


def q_dedup_embedding(spark, sf_dir):
    return S.embedding_neardup(_t(spark, sf_dir, "embeddings"), **_LSH_SMALL)


def q_dedup_clusters(spark, sf_dir):
    """Pairs → connected components → (doc_id, cluster_id = canonical
    survivor): the keep-one-per-dup-set closure over the minhash pairs."""
    pairs = D.minhash_neardup(
        _t(spark, sf_dir, "documents"), shingle_k=2, threshold=0.35, kernel="md5"
    )
    return D.connected_components(pairs)


# ============================================================= similarity ====


def q_ann_topk(spark, sf_dir):
    out = S.cosine_topk(_t(spark, sf_dir, "embeddings"))
    return out.withColumn("rank", F.col("rank").cast("long"))


def q_ann_lsh(spark, sf_dir):
    return S.lsh_neighbors(_t(spark, sf_dir, "embeddings"), **_LSH_SMALL)


def q_ann_ivf(spark, sf_dir):
    """IVF-style ANN (the second scale path next to sign-LSH): sampled coarse
    quantizer → inverted-list probe → exact rescore."""
    out = S.ivf_topk(_t(spark, sf_dir, "embeddings"))
    return out.withColumn("rank", F.col("rank").cast("long"))


# ============================================================== multimodal ===


def q_ann_recall(spark, sf_dir):
    """First-class recall@10 report of both approximate ANN paths vs the
    exact baseline (round-3 verdict #5): the surface a 100 TB curation
    pipeline tunes nprobe/bands against."""
    return S.ann_recall(_t(spark, sf_dir, "embeddings"), lsh_kw=_LSH_SMALL)


def q_multimodal_metadata(spark, sf_dir):
    media = M.with_binary_payload(_t(spark, sf_dir, "documents"))
    return M.extract_media_metadata(media)


def q_multimodal_decode(spark, sf_dir):
    """Real image decode: binary PPM payloads (in-repo netpbm codec) through
    Arrow-batched mapInPandas → geometry + per-channel means; the oracle
    rebuilds the deterministic pixels and averages in SQL."""
    media = M.with_image_payload(_t(spark, sf_dir, "documents"))
    return M.decode_images(media)




def q_multimodal_audio(spark, sf_dir):
    """Audio face of the multimodal family: REAL RIFF/WAVE PCM payloads
    synthesized deterministically per doc, decoded back by walking the chunk
    list (numpy-only) — rate/length/duration + exact integer amplitude
    stats. Same Arrow-batched mapInPandas plumbing as the image codecs."""
    docs = _t(spark, sf_dir, "documents")
    return M.decode_audio(M.with_audio_payload(docs))


def q_pivot_user_event_counts(spark, sf_dir):
    """Pivot (wide aggregation): per-user counts by event_type as columns.
    Expressed as CASE-sums (portable, identical in both engines; Spark's
    .pivot() compiles to the same shape)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "error", "signup"]
    return ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"n_{t}")
            for t in types
        ]
    )


_PIVOT_ORACLE = """
SELECT user_id,
       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
       sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup
FROM events GROUP BY user_id
"""


def q_rollup_pricing(spark, sf_dir):
    """Hierarchical aggregation (ROLLUP): per (returnflag, linestatus) totals
    plus per-returnflag and grand-total super-aggregates — the standard
    grouping-sets surface (one pass, partial agg per grouping set)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
        )
    )


_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube_pricing(spark, sf_dir):
    """Full grouping-sets lattice (CUBE): totals per (returnflag,
    linestatus), per each dimension alone, and the grand total — one pass
    over the data (Spark Expand + partial agg), not one re-scan per set."""
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_dec("l_extendedprice")).cast("double").alias("sum_price"),
    )


_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS sum_price
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_stringagg_regions(spark, sf_dir):
    """Ordered string aggregation (the LISTAGG/string_agg surface): per
    region, the alphabetized ';'-joined nation roster. collect_list →
    array_sort → array_join keeps the result deterministic (bare collect
    order is partition-dependent) and stays all-Catalyst; the dimension
    join is an explicit broadcast."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ";").alias("nations"),
            F.count(F.lit(1)).alias("n_nations"),
        )
    )


_STRINGAGG_ORACLE = """
SELECT r_name,
       string_agg(n_name, ';' ORDER BY n_name) AS nations,
       count(*) AS n_nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_asof_last_click(spark, sf_dir):
    """As-of join (absent in both the reference and core Spark — SURVEY
    §2.2): for each purchase event, the same user's most recent click at or
    before it. Expressed as the union + carry-forward window (the canonical
    Spark formulation; DuckDB mirrors the identical window, so values match
    bit-for-bit instead of relying on engine-specific ASOF JOIN syntax)."""
    ev = _t(spark, sf_dir, "events")
    marked = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.when(F.col("event_type") == "click", F.col("ts")).alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = marked.withColumn(
        "last_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "last_click_ts"
    )


_ASOF_ORACLE = """
WITH marked AS (
  SELECT event_id, user_id, event_type, ts,
         CASE WHEN event_type = 'click' THEN ts END AS click_ts
  FROM events WHERE event_type IN ('click', 'purchase')
),
carried AS (
  SELECT *, last_value(click_ts IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
  FROM marked
)
SELECT event_id, user_id, ts, last_click_ts
FROM carried WHERE event_type = 'purchase'
"""


# ===================================================== corpus preparation ====
# Training-data corpus stages between "deduped documents" and "batches":
# context-window chunking, deterministic split sampling, sequence packing
# (operators/corpus.py — md5 oracle faces here, xxhash64 in PROD_QUERIES).


def q_corpus_chunks(spark, sf_dir):
    """Fixed-token-window chunking of every document (context-length prep).
    Narrow explode, zero shuffle — scales linearly with corpus bytes."""
    return C.chunk_tokens(_t(spark, sf_dir, "documents"), k=64)


def q_corpus_sample(spark, sf_dir):
    """Deterministic 10% hash-mod sample of documents (repeatable train/eval
    splits): a pure filter that prunes at the scan; stable under reruns and
    repartitioning, unlike df.sample."""
    return C.sample_hash(_t(spark, sf_dir, "documents"), pct=10, kernel="md5")


#: mix re-balancing recipe for the stratified-sampling face: down-sample the
#: dominant language, keep every row of the rarest, mid-rate the rest.
_STRATA = {"en": 0.2, "fr": 1.0}
_STRATA_DEFAULT = 0.5


def q_corpus_stratified(spark, sf_dir):
    """Per-language deterministic sampling (training-mix re-balancing):
    en down to 20%, fr kept whole, everything else 50% — all one
    scan-stage CASE filter, no count pass, no shuffle."""
    return C.sample_stratified(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "lang", _STRATA, default=_STRATA_DEFAULT, kernel="md5",
    )


def q_corpus_pack(spark, sf_dir):
    """Greedy sequence packing: documents → per-group token streams → bins of
    ~512 tokens. Only exchange is the even n_groups-way hash partition (no
    global sort — a global ORDER BY would serialize at 100 TB)."""
    counts = _t(spark, sf_dir, "documents").select(
        "doc_id", X.n_tokens(F.col("text")).cast("long").alias("n_tokens")
    )
    return C.pack_sequences(counts, budget=512, n_groups=64, kernel="md5")


_CORPUS_PACK_INNER = (
    "SELECT doc_id, " + X.n_tokens_sql("text") + " AS n_tokens FROM documents"
)

# Shared constants for the composed curation pipeline (both faces).
_CURATE_MIN_STOPWORD_RATIO = 0.10
_CURATE_MIN_TOKENS = 8
_CURATE_SAMPLE_PCT = 50
_CURATE_SALT = "cur"
_CURATE_CHUNK_K = 64


def _curate(spark, sf_dir, kernel: str):
    """The end-to-end curation pipeline a pretraining corpus runs, composed
    from the engine's own operators: exact-dedup survivors (keep lowest
    doc_id per text digest) → language gate (computed lang_id = 'en') →
    quality gate (stopword ratio + token floor) → deterministic 50% sample →
    64-token context chunks.

    Plan shape at 100 TB: the dedup group key is the digest (never the
    text), the survivor semi-join exchanges ids only, every gate is a narrow
    scan-stage filter, and chunking is a narrow explode — two id-width
    shuffles total, payload text never shuffled."""
    docs = _t(spark, sf_dir, "documents")
    digests = docs.select("doc_id", X.digest(F.col("text"), kernel=kernel).alias("dg"))
    surv_ids = digests.groupBy("dg").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id"
    )
    tok = X.tokens(F.col("text"))
    stop_ratio = X.stopword_hits(tok, "en") / F.greatest(F.size(tok), F.lit(1))
    kept = (
        docs.join(surv_ids, "doc_id", "left_semi")
        .where(X.lang_id(F.col("text")) == "en")
        .where(stop_ratio >= _CURATE_MIN_STOPWORD_RATIO)
        .where(F.size(tok) >= _CURATE_MIN_TOKENS)
    )
    sampled = C.sample_hash(
        kept, pct=_CURATE_SAMPLE_PCT, salt=_CURATE_SALT, kernel=kernel
    )
    return C.chunk_tokens(sampled, k=_CURATE_CHUNK_K)


def q_corpus_curate(spark, sf_dir):
    """Oracle face of :func:`_curate` (portable md5 kernel)."""
    return _curate(spark, sf_dir, "md5")


_tok_sql = X.tokens_sql("text")
_CURATE_ORACLE = f"""
WITH surv AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
kept AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN surv USING (doc_id)
  WHERE ({X.lang_id_sql('d.text')}) = 'en'
    AND ({X.stopword_hits_sql(X.tokens_sql('d.text'), 'en')})
        / greatest(len({X.tokens_sql('d.text')}), 1)
        >= {_CURATE_MIN_STOPWORD_RATIO}
    AND len({X.tokens_sql('d.text')}) >= {_CURATE_MIN_TOKENS}
    AND ('0x' || substr(md5(d.doc_id::VARCHAR || '{_CURATE_SALT}'), 1, 8))::BIGINT
        % 100 < {_CURATE_SAMPLE_PCT}
),
t AS (SELECT doc_id, {_tok_sql} AS toks FROM kept),
c AS (
  SELECT doc_id,
         unnest(list_transform(
           generate_series(1, ceil(len(toks) / {_CURATE_CHUNK_K})::BIGINT),
           i -> {{'chunk_idx': i - 1,
                  'chunk_text': array_to_string(
                    toks[(i-1)*{_CURATE_CHUNK_K} + 1 : i*{_CURATE_CHUNK_K}], ' '),
                  'n_tokens': least(len(toks) - (i-1)*{_CURATE_CHUNK_K},
                                    {_CURATE_CHUNK_K})}})) AS u
  FROM t WHERE len(toks) > 0)
SELECT doc_id, u.chunk_idx::BIGINT AS chunk_idx,
       u.chunk_text AS chunk_text, u.n_tokens::BIGINT AS n_tokens
FROM c
"""


def q_quantiles_pricing(spark, sf_dir):
    """Exact quartiles of extended price per return flag — Spark's
    ``percentile`` (linear interpolation) is bit-identical to DuckDB
    ``quantile_cont``. Exact quantiles buffer each group's values in the
    aggregation state, so they are for BOUNDED group cardinalities (a
    handful of flags here); at 10^10 rows per group the production face is
    ``approx_percentile(col, q, accuracy)`` — a fixed-size KLL-style sketch
    with full map-side partial merge — which has no cross-engine oracle and
    is therefore not the gate face."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
    return (
        li.groupBy("l_returnflag")
        .agg(
            q[0].alias("q25"),
            q[1].alias("q50"),
            q[2].alias("q75"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_QUANTILES_ORACLE = """
SELECT l_returnflag,
       quantile_cont(l_extendedprice, 0.25) AS q25,
       quantile_cont(l_extendedprice, 0.5)  AS q50,
       quantile_cont(l_extendedprice, 0.75) AS q75,
       count(*)::BIGINT AS n
FROM lineitem GROUP BY l_returnflag
"""


def q_lag_event_gap(spark, sf_dir):
    """Per-user inter-event gap via lag() — the session-analysis primitive
    (ranking/frame/carry-forward windows are covered elsewhere; this pins
    the offset-window family). Gap in whole seconds, NULL for each user's
    first event."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(F.col("ts")).over(w)
    gap = (
        (F.unix_micros(F.col("ts").cast("timestamp"))
         - F.unix_micros(prev.cast("timestamp"))) / F.lit(1_000_000)
    ).cast("long")
    return ev.select(
        "event_id", "user_id", "ts", gap.alias("gap_s")
    )


_LAG_GAP_ORACLE = """
SELECT event_id, user_id, ts,
       (epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap_s
FROM events
"""


# ================================================================ registry ===

QUERIES = {
    "cdc_apply_epochs": q_cdc_apply_epochs,
    "cdc_lww_resolve": q_cdc_lww_resolve,
    "cdc_lww_salted": q_cdc_lww_salted,
    "cdc_dedup_commitlog": q_cdc_dedup_commitlog,
    "agg_pricing_summary": q_agg_pricing_summary,
    "join_revenue_by_segment": q_join_revenue_by_segment,
    "topk_orders": q_topk_orders,
    "anti_join_customers": q_anti_join_customers,
    "semi_join_parts": q_semi_join_parts,
    "union_tails": q_union_tails,
    "window_running_total": q_window_running_total,
    "sessionize_events": q_sessionize_events,
    "tumbling_hourly": q_tumbling_hourly,
    "json_props": q_json_props,
    "keygen_sha": q_keygen_sha,
    "lenient_dates": q_lenient_dates,
    "project_split_explode": q_project_split_explode,
    "filter_declarative": q_filter_declarative,
    "frame_ops": q_frame_ops,
    "limit_preview": q_limit_preview,
    "text_quality": q_text_quality,
    "text_langid": q_text_langid,
    "text_tokens": q_text_tokens,
    "text_fingerprint": q_text_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_minhash": q_dedup_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_ngram": q_dedup_ngram,
    "dedup_embedding": q_dedup_embedding,
    "dedup_clusters": q_dedup_clusters,
    "ann_topk": q_ann_topk,
    "ann_lsh": q_ann_lsh,
    "ann_ivf": q_ann_ivf,
    "ann_recall": q_ann_recall,
    "multimodal_metadata": q_multimodal_metadata,
    "multimodal_decode": q_multimodal_decode,
    "multimodal_audio": q_multimodal_audio,
    "pivot_user_event_counts": q_pivot_user_event_counts,
    "rollup_pricing": q_rollup_pricing,
    "cube_pricing": q_cube_pricing,
    "stringagg_regions": q_stringagg_regions,
    "asof_last_click": q_asof_last_click,
    "corpus_chunks": q_corpus_chunks,
    "corpus_sample": q_corpus_sample,
    "corpus_stratified": q_corpus_stratified,
    "corpus_pack": q_corpus_pack,
    "corpus_curate": q_corpus_curate,
    "quantiles_pricing": q_quantiles_pricing,
    "lag_event_gap": q_lag_event_gap,
}

ORACLES = {
    "cdc_apply_epochs": _CDC_APPLY_ORACLE,
    "cdc_lww_resolve": _CDC_LWW_ORACLE,
    "cdc_lww_salted": _CDC_LWW_ORACLE,
    "cdc_dedup_commitlog": _CDC_DEDUP_ORACLE,
    "agg_pricing_summary": _AGG_PRICING_ORACLE,
    "join_revenue_by_segment": _JOIN_REVENUE_ORACLE,
    "topk_orders": _TOPK_ORDERS_ORACLE,
    "anti_join_customers": _ANTI_JOIN_ORACLE,
    "semi_join_parts": _SEMI_JOIN_ORACLE,
    "union_tails": _UNION_TAILS_ORACLE,
    "window_running_total": _WINDOW_RUNNING_ORACLE,
    "sessionize_events": _SESSIONIZE_ORACLE,
    "tumbling_hourly": _TUMBLING_ORACLE,
    "json_props": _JSON_PROPS_ORACLE,
    "keygen_sha": _KEYGEN_ORACLE,
    "lenient_dates": _LENIENT_DATES_ORACLE,
    "project_split_explode": _SPLIT_EXPLODE_ORACLE,
    "filter_declarative": _FILTER_ORACLE,
    "frame_ops": _FRAME_OPS_ORACLE,
    "limit_preview": _LIMIT_ORACLE,
    "text_quality": _TEXT_QUALITY_ORACLE,
    "text_langid": _TEXT_LANGID_ORACLE,
    "text_tokens": _TEXT_TOKENS_ORACLE,
    "text_fingerprint": _TEXT_FP_ORACLE,
    "dedup_exact": D.exact_duplicates_sql(),
    "dedup_minhash": D.minhash_neardup_sql(shingle_k=2, threshold=0.35),
    "dedup_simhash": D.simhash_neardup_sql(max_hamming=3),
    "dedup_ngram": D.ngram_jaccard_pairs_sql(shingle_k=3, threshold=0.2, max_df=20),
    "dedup_embedding": S.embedding_neardup_sql(**_LSH_SMALL),
    "dedup_clusters": D.connected_components_sql(
        D.minhash_neardup_sql(shingle_k=2, threshold=0.35)
    ),
    "ann_topk": S.cosine_topk_sql(),
    "ann_lsh": S.lsh_neighbors_sql(**_LSH_SMALL),
    "ann_ivf": S.ivf_topk_sql(),
    "ann_recall": S.ann_recall_sql(lsh_kw=_LSH_SMALL),
    "multimodal_metadata": M.media_metadata_sql(),
    "multimodal_decode": M.decode_images_sql(),
    "multimodal_audio": M.decode_audio_sql(),
    "pivot_user_event_counts": _PIVOT_ORACLE,
    "rollup_pricing": _ROLLUP_ORACLE,
    "cube_pricing": _CUBE_ORACLE,
    "stringagg_regions": _STRINGAGG_ORACLE,
    "asof_last_click": _ASOF_ORACLE,
    "corpus_chunks": C.chunk_tokens_sql(k=64),
    "corpus_sample": C.sample_hash_sql(
        pct=10, cols="doc_id, text, lang, source, n_chars"
    ),
    "corpus_stratified": C.sample_stratified_sql(
        group_expr="lang", fractions=_STRATA, default=_STRATA_DEFAULT,
        cols="doc_id, lang",
    ),
    "corpus_pack": C.pack_sequences_sql(_CORPUS_PACK_INNER, budget=512, n_groups=64),
    "corpus_curate": _CURATE_ORACLE,
    "quantiles_pricing": _QUANTILES_ORACLE,
    "lag_event_gap": _LAG_GAP_ORACLE,
}


# ===================================================== production overlay ====
# The same operators with the PRODUCTION hash kernel (xxhash64: JVM-native,
# lock-free — JVM digest functions serialize on the JCA provider lock and
# anti-scale with threads in one JVM) and, for LSH, the library's scale
# geometry. No DuckDB twin exists for xxhash64, so these are bench-only: the
# driver's correctness gate runs the md5 oracle faces above; bench.py times
# these so BENCH reflects what a 100 TB deployment would run.

PROD_QUERIES = {
    "dedup_exact": lambda spark, sf_dir: D.exact_duplicates(
        _t(spark, sf_dir, "documents")
    ),
    "dedup_minhash": lambda spark, sf_dir: D.minhash_neardup(
        _t(spark, sf_dir, "documents"), shingle_k=2, threshold=0.35
    ),
    "dedup_simhash": lambda spark, sf_dir: D.simhash_neardup(
        _t(spark, sf_dir, "documents"), max_hamming=3
    ),
    "dedup_ngram": lambda spark, sf_dir: D.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), shingle_k=3, threshold=0.2, max_df=20
    ),
    "dedup_clusters": lambda spark, sf_dir: D.connected_components(
        D.minhash_neardup(_t(spark, sf_dir, "documents"), shingle_k=2,
                          threshold=0.35)
    ),
    "text_fingerprint": lambda spark, sf_dir: _t(spark, sf_dir, "documents").select(
        "doc_id", X.fingerprint64(F.col("text")).alias("fp")
    ),
    # LSH verify with the vectorized numpy cosine (same pairs; the Catalyst
    # sequential fold exists for the oracle's bit-exact scores)
    "ann_lsh": lambda spark, sf_dir: S.lsh_neighbors(
        _t(spark, sf_dir, "embeddings"), verify_kernel="numpy", **_LSH_SMALL
    ),
    "dedup_embedding": lambda spark, sf_dir: S.embedding_neardup(
        _t(spark, sf_dir, "embeddings"), verify_kernel="numpy", **_LSH_SMALL
    ),
    "ann_topk": lambda spark, sf_dir: S.cosine_topk(
        _t(spark, sf_dir, "embeddings"), verify_kernel="numpy"
    ),
    "ann_ivf": lambda spark, sf_dir: S.ivf_topk(
        _t(spark, sf_dir, "embeddings"), verify_kernel="numpy"
    ),
    "corpus_sample": lambda spark, sf_dir: C.sample_hash(
        _t(spark, sf_dir, "documents"), pct=10, kernel="xxhash64"
    ),
    "corpus_stratified": lambda spark, sf_dir: C.sample_stratified(
        _t(spark, sf_dir, "documents").select("doc_id", "lang"),
        "lang", _STRATA, default=_STRATA_DEFAULT,
    ),
    "corpus_curate": lambda spark, sf_dir: _curate(spark, sf_dir, "xxhash64"),
    "corpus_pack": lambda spark, sf_dir: C.pack_sequences(
        _t(spark, sf_dir, "documents").select(
            "doc_id", X.n_tokens(F.col("text")).cast("long").alias("n_tokens")
        ),
        budget=512,
        n_groups=64,
        kernel="xxhash64",
    ),
}
