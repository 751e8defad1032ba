"""Similarity search over embedding columns (``array<float>``).

Two physical strategies for top-k cosine neighbors:

- **Brute force** (baseline / exact): broadcast the (small) query set against
  the corpus — a broadcast nested-loop join, no shuffle of the corpus at all;
  per-query top-k via a ranking window partitioned by query id. At 100 TB the
  corpus side stays partition-parallel; only k rows per query per partition
  survive to the final shuffle when AQE applies partial top-k.
- **Sign-LSH** (scale path): T independent tables of P deterministic
  hyperplanes each (portable pseudo-random from md5 — identical in the DuckDB
  oracle) hash each vector to a P-bit bucket per table; candidates = same-
  (table, bucket) collisions (+ optional multi-probe on flipped bits),
  verified with exact cosine. Candidate rows carry ONLY (id_a, id_b) through
  the join — vectors rejoin for the verify — so the collision shuffle moves
  two longs per pair, never the embeddings.

Cosine is the order-stable double fold from functions/vectors.py, so scores —
not just ids — hash-match the oracle.

**Which approximate path for which job (measured, BENCH.md recall sweep):**
sign-LSH is a NEAR-DUP DEVICE, not a top-k path; **IVF is the top-k path**
(recall@10 0.94–1.0 at nprobe 4–8 on the sf0.1 embeddings vs 0.04–0.34 for
LSH at every in-repo geometry). The reason is geometry, not tuning: a
same-bucket collision needs all P plane signs to agree, probability
``p^P`` with ``p = 1 - θ/π``, so for a top-k neighbor of a near-uniform
corpus (θ ≈ 60°, cos ≈ 0.5) each 16-plane table collides at (2/3)^16 ≈
0.15%, and pushing table count/plane count to recall ≥ 0.8 (e.g. 8 tables
× 4 planes) yields candidate volumes within ~2× of brute force — LSH at
that recall IS brute force with extra steps. At near-dup radii the same
formula flips (θ ≤ 25°, cos ≥ 0.9 → p ≈ 0.86, one 16-plane table catches
~9%/table and tables multiply cheaply), which is why
:func:`embedding_neardup` keeps LSH and :func:`ann_recall` measures both.

Reference parity: the reference has no vector ops (SURVEY.md §2.2 "absent");
these are the training-data-pipeline additions the target engine must carry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from investigraph_etl_spark.functions import vectors as V
from investigraph_etl_spark.operators.util import fanout

#: Sign-LSH default geometry (the production, scale-safe setting): 4 tables
#: × 16 planes → 4 × 2^16 = 262,144 buckets. Geometry math: per-table bucket
#: count is 2^n_planes, so choose n_planes ≈ log2(n_vectors / target_bucket
#: occupancy) — 16 bits holds ~n/65,536 vectors per bucket (10^10 vectors →
#: ~150 k/bucket; add planes as the corpus grows). Recall is recovered by
#: adding TABLES (independent plane sets), not by shrinking the bucket space:
#: P(candidate) = 1 - (1 - p^P)^T with p = 1 - θ/π, plus optional multi-probe.
#: Small corpora (tests / the sf0.01 oracle face) should pass n_planes≈6
#: explicitly so buckets stay populated.
N_TABLES = 4
N_PLANES = 16


def cosine_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify_kernel: str = "catalyst",
) -> DataFrame:
    """Exact top-k cosine neighbors for the first ``n_queries`` ids.

    Query side is tiny → ``broadcast``; corpus is never shuffled until the
    final per-query ranking (window over ≤ n_queries * |corpus| candidate rows,
    bounded in practice by partial top-k under AQE).

    Output: (query_id, neighbor_id, cos, rank), rank 1..k, self excluded;
    deterministic tie-break by neighbor id.
    """
    q = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    cand = F.broadcast(q).crossJoin(
        fanout(emb).select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
        )
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    if verify_kernel == "numpy":  # production: Arrow-batched einsum scoring
        cos = V.cosine_batch_udf()(F.col("qv"), F.col("nv"))
    else:  # oracle-parity: sequential fold, bit-identical to DuckDB
        cos = V.cosine(F.col("qv"), F.col("nv"))
    scored = cand.select("query_id", "neighbor_id", cos.alias("cos"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_topk_sql(
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = V.cosine_sql("q.qv", "n.nv")
    return f"""
WITH q AS (SELECT {id_col} AS query_id, {vec_col} AS qv FROM {table}
           WHERE {id_col} < {n_queries}),
n AS (SELECT {id_col} AS neighbor_id, {vec_col} AS nv FROM {table}),
scored AS (
  SELECT q.query_id, n.neighbor_id, {cos} AS cos
  FROM q CROSS JOIN n WHERE q.query_id != n.neighbor_id
)
SELECT query_id, neighbor_id, cos,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def _plane_coef(t: int, j: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane coefficient in [-1, 1).

    Derived from md5 of "plane:<t>:<j>:<i>" (table t, plane j, dim i) —
    reproduced literally in SQL so both engines build the same planes.
    Computed at plan-build time (constants in the plan; no per-row hashing).
    """
    import hashlib

    h = int(hashlib.md5(f"plane:{t}:{j}:{i}".encode()).hexdigest()[:8], 16)
    return (h / float(1 << 31)) - 1.0


def _bucket_expr(vec_col: str, dim: int, t: int, n_planes: int):
    """Table t's P-bit sign bucket: bit j = sign(dot(v, plane_tj)) — array
    lambdas only (JVM-side, no Python)."""
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        coefs = F.array(*[F.lit(_plane_coef(t, j, i)) for i in range(dim)])
        d = F.aggregate(
            F.zip_with(F.col(vec_col).cast("array<double>"), coefs, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return bucket


def _bucket_sql(vec_col: str, dim: int, t: int, n_planes: int) -> str:
    terms = []
    for j in range(n_planes):
        coefs = "[" + ", ".join(repr(_plane_coef(t, j, i)) for i in range(dim)) + "]"
        d = (
            f"list_reduce(list_prepend(0.0, "
            f"list_transform(generate_series(1, {dim}), "
            f"i -> ({vec_col})[i]::DOUBLE * ({coefs})[i])), (acc, x) -> acc + x)"
        )
        terms.append(f"(CASE WHEN ({d}) > 0 THEN {1 << j} ELSE 0 END)::BIGINT")
    return " + ".join(terms)


def lsh_neighbors(
    emb: DataFrame,
    dim: int = 64,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    threshold: float = 0.3,
    probe_bits: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify_kernel: str = "catalyst",
) -> DataFrame:
    """Banded multi-table sign-LSH pairs verified by exact cosine >= threshold.

    ``verify_kernel``: "catalyst" (sequential-fold array lambdas — the
    oracle-parity kernel, bit-identical to DuckDB) or "numpy" (Arrow-batched
    vectorized einsum — the production kernel; same pairs, scores differ by
    ~1 ulp from summation order).

    Each vector lands in one bucket per table (``n_tables`` independent plane
    sets of ``n_planes`` bits — see the geometry note on N_TABLES above); the
    self-join is keyed on (table, bucket), so at 10^10 vectors the shuffle is
    bucket-partitioned and candidate volume is collision-bounded. Candidates
    carry only (id_a, id_b); vectors rejoin afterwards for the cosine verify.

    ``probe_bits`` = p > 0 enables multi-probe: each vector additionally
    probes the p buckets at Hamming distance 1 on its bucket's low p bits
    (probe side only — probe↔probe pairs are not generated), trading p× more
    left-side rows for recall on near-boundary vectors.

    **Scope (measured — module docstring has the numbers): this is the
    near-dup/radius device.** Use it to find pairs above a HIGH cosine
    threshold (embedding_neardup); do NOT use it as a top-k ANN path on
    near-uniform embeddings — top-k recall ≥ 0.8 forces candidate volumes
    within ~2× of brute force there. :func:`ivf_topk` is the top-k path;
    :func:`cosine_topk` is the exact baseline.

    Output: (id_a, id_b, cos) with id_a < id_b.
    """
    bucket_arr = F.array(
        *[_bucket_expr(vec_col, dim, t, n_planes) for t in range(n_tables)]
    )
    b = fanout(emb).select(
        F.col(id_col).alias("id"), F.posexplode(bucket_arr).alias("tbl", "bucket")
    )
    # real members (probe=0) + optional multi-probe rows (probe=1); the bucket
    # plumbing is computed and shuffled ONCE via groupBy-collect (a self-join
    # would recompute the n_tables × n_planes dot products per side).
    rows = b.select("id", "tbl", "bucket", F.lit(0).alias("probe"))
    for j in range(probe_bits):
        rows = rows.unionByName(
            b.select(
                "id",
                "tbl",
                F.col("bucket").bitwiseXOR(F.lit(1 << j)).alias("bucket"),
                F.lit(1).alias("probe"),
            )
        )
    buckets = (
        rows.groupBy("tbl", "bucket")
        .agg(F.collect_list(F.struct("id", "probe")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    cand = (
        buckets.select(F.explode("ms").alias("x"), "ms")
        .select("x", F.explode("ms").alias("y"))
        # probe<->probe pairs are not generated: probing is Hamming-1 by
        # design (a probe-probe collision implies the real buckets differ in
        # two bits, outside the probe radius)
        .filter(
            (F.col("x.id") != F.col("y.id"))
            & ~((F.col("x.probe") == 1) & (F.col("y.probe") == 1))
        )
        .select(
            F.least("x.id", "y.id").alias("id_a"),
            F.greatest("x.id", "y.id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # verify: two hash joins pulling each member's vector — broadcast-able
    # when the embedding relation fits (candidates then never carry vectors
    # through an exchange; see dedup._verify_jaccard for the measurement
    # behind this shape).
    va = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    if verify_kernel == "numpy":
        cos = V.cosine_batch_udf()(F.col("va"), F.col("vb"))
    else:
        cos = V.cosine(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
    )


def lsh_neighbors_sql(
    table: str = "embeddings",
    dim: int = 64,
    n_tables: int = N_TABLES,
    n_planes: int = N_PLANES,
    threshold: float = 0.3,
    probe_bits: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    bucket_rows = " UNION ALL ".join(
        f"SELECT {id_col} AS id, {t} AS tbl, "
        f"({_bucket_sql(vec_col, dim, t, n_planes)}) AS bucket FROM {table}"
        for t in range(n_tables)
    )
    probe_rows = "SELECT * FROM b" + "".join(
        f" UNION ALL SELECT id, tbl, xor(bucket, {1 << j}) AS bucket FROM b"
        for j in range(probe_bits)
    )
    cos = V.cosine_sql("va.{v}".format(v=vec_col), "vb.{v}".format(v=vec_col))
    return f"""
WITH b AS ({bucket_rows}),
p AS ({probe_rows}),
cand AS (
  SELECT DISTINCT least(l.id, r.id) AS id_a, greatest(l.id, r.id) AS id_b
  FROM p l JOIN b r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.id != r.id
)
SELECT c.id_a, c.id_b, {cos} AS cos
FROM cand c
JOIN {table} va ON va.{id_col} = c.id_a
JOIN {table} vb ON vb.{id_col} = c.id_b
WHERE {cos} >= {threshold}
"""


def _argmax_centroid(vec, cents):
    """(cid, ac) struct of the max-cosine centroid for ``vec`` — a narrow
    fold over the broadcast centroid array. ``cents`` must be sorted by cid
    ascending so the strict-greater fold breaks ties to the LOWEST cid,
    matching the oracle's ``ORDER BY ac DESC, cid ASC`` ranking. Cosine is
    the order-stable sequential fold (functions/vectors.py) so the argmax is
    bit-identical across engines."""
    # named_struct, not struct(...).alias(...): aliases inside higher-order
    # lambdas do not survive resolution (fields would surface as col1/col2).
    scored = F.transform(
        cents,
        lambda c: F.named_struct(
            F.lit("cid"), c["cid"], F.lit("ac"), V.cosine(vec, c["cv"])
        ),
    )
    init = F.named_struct(
        F.lit("cid"), F.lit(-1).cast("long"), F.lit("ac"), F.lit(-2.0)
    )
    return F.aggregate(
        scored, init, lambda acc, s: F.when(s["ac"] > acc["ac"], s).otherwise(acc)
    )


def train_centroids(
    emb: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """k-means (Lloyd) trained coarse quantizer — pure DataFrame iterations.

    Deterministic: seeded from the first ``n_centroids`` ids (the same
    sampled quantizer :func:`ivf_topk` defaults to), assignment is the
    bit-stable :func:`_argmax_centroid` fold, update is the per-dimension
    mean (``posexplode`` → avg → re-pack). Per iteration: one narrow
    assignment pass over the corpus + one shuffle of (cid, pos, x) rows —
    16 B keys, C×dim output groups. Centroids are collected per iteration
    (bounded: n_centroids × dim doubles) to cut iterative lineage growth —
    the standard Spark pattern for small iterated state.

    Returns a (cid: long, cv: array<double>) DataFrame usable as
    ``ivf_topk(..., centroids=...)``. Empty clusters drop out (cid keeps its
    original label; renumbering would change nothing downstream).
    """
    spark = emb.sparkSession
    corpus = emb.select(
        F.col(id_col).alias("nid"), F.col(vec_col).cast("array<double>").alias("nv")
    )
    cent = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).cast("long").alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    for _ in range(n_iters):
        cent_arr = cent.agg(
            F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
        )
        # two selects, NOT one: with the argmax in the same projection as
        # posexplode, Catalyst re-evaluates it per generated row (dim×
        # overkill — measured 23× slower); a separate select keeps it below
        # the Generate, once per vector.
        assigned = corpus.crossJoin(F.broadcast(cent_arr)).select(
            _argmax_centroid(F.col("nv"), F.col("cents"))["cid"].alias("cid"),
            "nv",
        )
        upd = (
            assigned.select("cid", F.posexplode("nv").alias("pos", "x"))
            .groupBy("cid", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("ps"))
            .select("cid", F.transform("ps", lambda s: s["m"]).alias("cv"))
        )
        rows = upd.collect()  # bounded: ≤ n_centroids rows of dim doubles
        cent = spark.createDataFrame(rows, schema="cid long, cv array<double>")
    return cent


def ivf_topk(
    emb: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify_kernel: str = "catalyst",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantizer → per-list search.

    The second ANN scale path next to sign-LSH. Structure (classic IVF):

    1. **Coarse quantizer**: ``n_centroids`` centroid vectors — by default a
       deterministic sample (the first ``n_centroids`` ids) so both engines
       build the identical quantizer (the oracle face); pass
       ``centroids=train_centroids(...)`` for a k-means codebook (better
       recall, same plan shape).
    2. **Assignment**: the quantizer is collapsed to ONE broadcast row (an
       array of (cid, cv) structs) and every corpus vector computes its
       max-cosine centroid with a narrow fold (:func:`_argmax_centroid`).
       The corpus is NEVER exchanged: no window, no sort, no shuffle — the
       assignment relation (nid, nv, cid) stays on the scan partitions.
    3. **Probe**: each query scores the same centroids and keeps its
       ``nprobe`` closest lists. The probe relation (n_queries × nprobe
       rows, tiny by definition) is **broadcast** into the assignment —
       candidate generation is a broadcast-hash semi-filter of the corpus,
       not a shuffle of it.
    4. Exact cosine + per-query top-k window — the only exchange in the
       whole plan, over the candidate set alone (≈ nprobe/C of the corpus
       per query, output-proportional by IVF construction).

    At 10^10 vectors: one narrow pass for assignment (C ≈ 2^10-2^16
    centroids in a broadcast array), zero corpus shuffles, per-query work
    proportional to nprobe/n_centroids of the corpus — never all-pairs.
    Recall < 1 (misses neighbors assigned to unprobed lists);
    :func:`cosine_topk` is the exact baseline.

    Output: (query_id, neighbor_id, cos, rank), rank 1..k.
    """
    cent = (
        centroids.select("cid", "cv")
        if centroids is not None
        else emb.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).cast("long").alias("cid"),
            F.col(vec_col).cast("array<double>").alias("cv"),
        )
    )
    cent_arr = cent.agg(
        F.array_sort(F.collect_list(F.struct("cid", "cv"))).alias("cents")
    )

    # assignment: narrow fold-argmax against the one-row broadcast centroid
    # array; keeps nv in flight (no exchange touches it) so the verify needs
    # no second corpus join.
    assign = (
        fanout(emb)
        .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("nv"))
        .crossJoin(F.broadcast(cent_arr))
        .select(
            "nid",
            "nv",
            _argmax_centroid(F.col("nv"), F.col("cents"))["cid"].alias("cid"),
        )
    )

    # probes: tiny by definition (n_queries rows × C centroids) — a ranking
    # window here is driver-noise; the result is broadcast.
    q = emb.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    pscored = q.crossJoin(F.broadcast(cent)).select(
        "query_id", "qv", "cid", V.cosine(F.col("qv"), F.col("cv")).alias("ac")
    )
    pw = Window.partitionBy("query_id").orderBy(F.desc("ac"), F.asc("cid"))
    probes = (
        pscored.withColumn("r", F.row_number().over(pw))
        .filter(F.col("r") <= nprobe)
        .select("query_id", "qv", "cid")
    )

    scored = (
        assign.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("nid"))
    )
    if verify_kernel == "numpy":
        cos = V.cosine_batch_udf()(F.col("qv"), F.col("nv"))
    else:
        cos = V.cosine(F.col("qv"), F.col("nv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.select(
            "query_id", F.col("nid").alias("neighbor_id"), cos.alias("cos")
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk_sql(
    table: str = "embeddings",
    n_centroids: int = 16,
    nprobe: int = 4,
    n_queries: int = 5,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    cos = V.cosine_sql("q.qv", "n.nv")
    return f"""
WITH cent AS (SELECT {id_col} AS cid, {vec_col} AS cv FROM {table}
              WHERE {id_col} < {n_centroids}),
assign AS (
  SELECT sid AS nid, cid FROM (
    SELECT s.{id_col} AS sid, c.cid,
           row_number() OVER (PARTITION BY s.{id_col}
                              ORDER BY {V.cosine_sql(f's.{vec_col}', 'c.cv')} DESC,
                                       c.cid ASC) AS r
    FROM {table} s CROSS JOIN cent c
  ) WHERE r = 1
),
q AS (SELECT {id_col} AS query_id, {vec_col} AS qv FROM {table}
      WHERE {id_col} < {n_queries}),
probes AS (
  SELECT query_id, cid FROM (
    SELECT q.query_id, c.cid,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {V.cosine_sql('q.qv', 'c.cv')} DESC,
                                       c.cid ASC) AS r
    FROM q CROSS JOIN cent c
  ) WHERE r <= {nprobe}
),
n AS (SELECT {id_col} AS neighbor_id, {vec_col} AS nv FROM {table}),
scored AS (
  SELECT p.query_id, a.nid AS neighbor_id, {cos} AS cos
  FROM probes p
  JOIN assign a ON a.cid = p.cid AND a.nid != p.query_id
  JOIN q ON q.query_id = p.query_id
  JOIN n ON n.neighbor_id = a.nid
)
SELECT query_id, neighbor_id, cos,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rank
FROM scored
QUALIFY rank <= {k}
"""


def ann_recall(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    lsh_kw: dict | None = None,
    ivf_kw: dict | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    verify_kernel: str = "catalyst",
) -> DataFrame:
    """recall@k of the approximate ANN paths vs the exact baseline.

    A 100 TB curation pipeline tunes nprobe / tables / planes / probe_bits
    against MEASURED recall — this is that surface, first-class: one
    DataFrame ``(method, hits, possible, recall)`` with ``method`` in
    {"ivf", "lsh"}, ``possible`` = |exact top-k| (≤ n_queries × k), and
    ``recall = hits / possible``. Parameterize the approximate paths via
    ``lsh_kw`` (n_tables, n_planes, probe_bits) and ``ivf_kw`` (n_centroids,
    nprobe, centroids=train_centroids(...) for the trained quantizer).

    All-declarative: exact/ivf reuse :func:`cosine_topk`/:func:`ivf_topk`;
    the LSH top-k ranks each query's verified candidate pairs. No collect —
    the result is n_methods rows from two aggregations.
    """
    lsh_kw = dict(lsh_kw or {})
    ivf_kw = dict(ivf_kw or {})
    common = dict(id_col=id_col, vec_col=vec_col, verify_kernel=verify_kernel)
    exact = cosine_topk(emb, n_queries=n_queries, k=k, **common).select(
        "query_id", "neighbor_id"
    )
    ivf = ivf_topk(emb, n_queries=n_queries, k=k, **common, **ivf_kw).select(
        "query_id", "neighbor_id"
    )
    pairs = lsh_neighbors(emb, threshold=-1.0, **common, **lsh_kw)
    cand = pairs.selectExpr(
        "id_a as query_id", "id_b as neighbor_id", "cos"
    ).unionByName(
        pairs.selectExpr("id_b as query_id", "id_a as neighbor_id", "cos")
    ).filter(F.col("query_id") < n_queries)
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    lsh = (
        cand.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= k)
        .select("query_id", "neighbor_id")
    )
    tagged = lsh.select(F.lit("lsh").alias("method"), "*").unionByName(
        ivf.select(F.lit("ivf").alias("method"), "*")
    )
    hit = exact.withColumn("_hit", F.lit(1))
    per = (
        tagged.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("method")
        .agg(F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("hits"))
    )
    possible = exact.agg(F.count(F.lit(1)).cast("long").alias("possible"))
    return (
        per.crossJoin(possible)
        .select(
            "method",
            "hits",
            "possible",
            (F.col("hits") / F.col("possible")).alias("recall"),
        )
        .orderBy("method")
    )


def ann_recall_sql(
    table: str = "embeddings",
    n_queries: int = 5,
    k: int = 10,
    lsh_kw: dict | None = None,
    ivf_kw: dict | None = None,
) -> str:
    """DuckDB twin of :func:`ann_recall` — composes the three existing
    oracle SQL bodies as derived tables (each carries its own WITH)."""
    lsh_kw = dict(lsh_kw or {})
    ivf_kw = dict(ivf_kw or {})
    exact_sql = cosine_topk_sql(table, n_queries=n_queries, k=k)
    ivf_sql = ivf_topk_sql(table, n_queries=n_queries, k=k, **ivf_kw)
    pairs_sql = lsh_neighbors_sql(table, threshold=-1.0, **lsh_kw)
    return f"""
WITH exact AS (SELECT query_id, neighbor_id FROM ({exact_sql})),
ivf AS (SELECT query_id, neighbor_id FROM ({ivf_sql})),
lshp AS (SELECT * FROM ({pairs_sql})),
lshc AS (
  SELECT id_a AS query_id, id_b AS neighbor_id, cos FROM lshp
  UNION ALL
  SELECT id_b AS query_id, id_a AS neighbor_id, cos FROM lshp
),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id ASC) AS r
    FROM lshc WHERE query_id < {n_queries}
  ) WHERE r <= {k}
),
tagged AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ivf
),
poss AS (SELECT count(*)::BIGINT AS possible FROM exact)
SELECT t.method,
       sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hits,
       max(p.possible)::BIGINT AS possible,
       sum(CASE WHEN e.query_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         / max(p.possible)::BIGINT AS recall
FROM tagged t
LEFT JOIN exact e
  ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id
CROSS JOIN poss p
GROUP BY t.method
ORDER BY method
"""


def embedding_neardup(
    emb: DataFrame, threshold: float = 0.4, **kw
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs = LSH neighbors at a high
    threshold (dedup is similarity search with a tighter radius)."""
    return lsh_neighbors(emb, threshold=threshold, **kw)


def embedding_neardup_sql(table: str = "embeddings", threshold: float = 0.4, **kw) -> str:
    return lsh_neighbors_sql(table, threshold=threshold, **kw)
