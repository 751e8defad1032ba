"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the point of each shape):

- **Exact**: ``groupBy(md5(text))`` — one hash-agg shuffle keyed on the digest,
  partial agg map-side; never a self-join.
- **MinHash+LSH**: signature is P independent min-hashes computed per row
  (narrow, codegen'd array lambdas); banding explodes each doc into B rows and
  the *only* shuffle is a groupBy/self-join on ``(band, band_hash)`` buckets —
  candidate pairs ~ O(collisions), not O(n²). Exact Jaccard verifies candidates.
- **SimHash**: one 64-bit signature per doc from token-hash bit votes
  (4 × 16-bit bands → 65,536 bucket values per band; pigeonhole recall 1.0
  for Hamming <= 3); Hamming-distance verify via ``bit_count(a ^ b)``.
- **n-gram Jaccard**: the verify kernel exposed standalone.

Every operator takes a ``kernel`` argument (functions/text.KERNELS):
``xxhash64`` is the production default (JVM-native, lock-free — JVM digest
functions serialize on the JCA provider lock and anti-scale with threads);
``md5`` is the oracle-parity mode, deterministic and bit-identical to the
DuckDB ``*_sql`` twins, which are defined for ``md5`` only. Both modes are
deterministic; LSH candidate sets (and thus verified near-dup outputs) may
differ slightly between hash families — recall bounds hold for either.

Reference parity: the reference dedups task outputs by content checksum
(/root/reference/investigraph/cache.py:41-45) and merges identical entities by
deterministic id (/root/reference/investigraph/logic/aggregate.py:68-75);
these operators generalize that to fuzzy content identity for corpus curation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from investigraph_etl_spark.functions import text as X
from investigraph_etl_spark.operators.util import fanout

# ---------------------------------------------------------------------- exact


def exact_duplicates(
    docs: DataFrame, text_col: str = "text", kernel: str = "xxhash64"
) -> DataFrame:
    """Exact-duplicate groups: digest → canonical (min) id + member count.

    Returns one row per duplicated digest (n_docs >= 2). ``digest`` is a long
    (xxhash64, production) or hex string (md5, oracle-parity).
    """
    return (
        docs.groupBy(X.digest(F.col(text_col), kernel).alias("digest"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def exact_duplicates_sql(table: str = "documents", text_col: str = "text") -> str:
    return (
        f"SELECT md5({text_col}) AS digest, min(doc_id) AS keep_id, "
        f"count(*) AS n_docs FROM {table} "
        f"GROUP BY md5({text_col}) HAVING count(*) >= 2"
    )


# ------------------------------------------------------------------- minhash

#: Default MinHash geometry: P = BANDS * ROWS_PER_BAND hash "permutations".
N_PERM = 12
BANDS = 4
ROWS_PER_BAND = 3


def _token_sets(docs: DataFrame, text_col: str, shingle_k: int) -> DataFrame:
    tok = X.tokens(F.col(text_col))
    sh = tok if shingle_k <= 1 else X.shingles(tok, shingle_k)
    return fanout(docs).select("doc_id", F.array_distinct(sh).alias("sh"))


def _token_sets_sql(table: str, text_col: str, shingle_k: int) -> str:
    tok = X.tokens_sql(text_col)
    sh = tok if shingle_k <= 1 else X.shingles_sql(tok, shingle_k)
    return f"SELECT doc_id, list_distinct({sh}) AS sh FROM {table}"


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    n_perm: int = N_PERM,
    shingle_k: int = 1,
    kernel: str = "xxhash64",
) -> DataFrame:
    """Per-doc MinHash signature: array of ``n_perm`` per-permutation minima.

    "Permutation" p is the keyed hash of the shingle (xxhash64 seeded with p /
    ``md5('p<p>:' || shingle)``); the signature element is the min (numeric /
    lexicographic) over the doc's shingle set — the classic min-wise
    independent family. Narrow (array lambdas only), no shuffle.
    """
    sets = _token_sets(docs, text_col, shingle_k)

    def perm_hash(p: int):
        if kernel == "xxhash64":
            return lambda s: F.xxhash64(F.lit(p), s)
        return lambda s: F.md5(F.concat(F.lit(f"p{p}:"), s))

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("sh"), perm_hash(p)))
            for p in range(n_perm)
        ]
    )
    return sets.select("doc_id", "sh", sig.alias("sig"))


def _signature_sql(
    table: str, text_col: str, n_perm: int, shingle_k: int
) -> str:
    sets = _token_sets_sql(table, text_col, shingle_k)
    elems = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('p{p}:' || s)), 'min')"
        for p in range(n_perm)
    )
    return f"SELECT doc_id, sh, [{elems}] AS sig FROM ({sets})"


def minhash_neardup(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.7,
    n_perm: int = N_PERM,
    bands: int = BANDS,
    shingle_k: int = 1,
    kernel: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs verified by exact Jaccard >= threshold.

    Pipeline: signature (narrow) → explode to ``bands`` rows/doc → self-join on
    the band bucket (the only shuffle, sized by true collisions) → distinct
    candidate pairs → exact Jaccard verify on the token sets.

    Output: (id_a, id_b, jaccard) with id_a < id_b.
    """
    r = n_perm // bands
    sig = minhash_signature(docs, text_col, n_perm, shingle_k, kernel)
    if kernel == "xxhash64":
        # one xxhash64 over the band's slice of the long[] signature
        band_cols = [F.xxhash64(F.slice(F.col("sig"), b * r + 1, r)) for b in range(bands)]
    else:
        band_cols = [
            F.md5(F.concat_ws("", F.slice(F.col("sig"), b * r + 1, r)))
            for b in range(bands)
        ]
    band_arr = F.array(*band_cols)
    banded = sig.select("doc_id", F.posexplode(band_arr).alias("band", "bh"))
    cand = _bucket_pairs(banded, ["band", "bh"], max_bucket)
    return _verify_jaccard(cand, sig.select("doc_id", "sh"), threshold)


def _bucket_pairs(
    rows: DataFrame, keys: list[str], max_bucket: int | None = None
) -> DataFrame:
    """Distinct (id_a, id_b) pairs of doc_ids sharing a bucket key.

    Shape (why not a self-join): ``groupBy(keys).collect_list(doc_id)`` then a
    double explode — the signature/index subtree is computed and shuffled ONCE
    (a self-join would recompute it per side; ReuseExchange does not fire
    across the join aliases, measured). Pair volume is identical to the
    self-join's (O(Σ bucket²), collision-bounded).

    ``max_bucket`` is the production skew guard: a degenerate bucket of d docs
    (e.g. a boilerplate signature repeated across the corpus) yields d² pairs
    AND a d-element collected list on one reducer; buckets above the cap are
    dropped (their members still pair through their other bands/shingles).
    None (default) keeps exact semantics for the oracle faces.
    """
    buckets = (
        rows.groupBy(*keys)
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    return (
        buckets.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_jaccard(cand: DataFrame, sets: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verify of (id_a, id_b) candidates against token sets.

    Two hash joins, sets side joined per pair member. The shingle arrays are
    the WIDE payload (KBs/doc); two joins let Catalyst/AQE broadcast the sets
    relation when it fits (then no candidate row is ever exchanged carrying
    an array) and fall back to shuffle joins keyed on ids when it doesn't.
    (A gather-via-groupBy variant that computes ``sets`` once was measured
    10-20× WORSE here: the aggregation forces every candidate's two arrays
    through a shuffle exchange — recomputing the narrow tokenize/shingle
    subtree is far cheaper than exchanging its output.)
    """
    verified = (
        cand.join(sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return verified.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_neardup_sql(
    table: str = "documents",
    text_col: str = "text",
    threshold: float = 0.7,
    n_perm: int = N_PERM,
    bands: int = BANDS,
    shingle_k: int = 1,
) -> str:
    r = n_perm // bands
    sig = _signature_sql(table, text_col, n_perm, shingle_k)
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, "
        f"md5(array_to_string(sig[{b * r + 1} : {b * r + r}], '')) AS bh FROM sig"
        for b in range(bands)
    )
    return f"""
WITH sig AS ({sig}),
banded AS ({band_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(sa.sh, sb.sh))
         / len(list_distinct(sa.sh || sb.sh)) AS jaccard
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE len(list_intersect(sa.sh, sb.sh))
        / len(list_distinct(sa.sh || sb.sh)) >= {threshold}
"""


# ------------------------------------------------------------------- simhash


def simhash64(
    docs: DataFrame, text_col: str = "text", kernel: str = "xxhash64"
) -> DataFrame:
    """64-bit SimHash per doc, as two 32-bit halves ``(sim_hi, sim_lo)``.

    Bit j of each half is set iff the sum of (2*bit_j(h(tok)) - 1) over the
    doc's distinct tokens is > 0, where h yields 64 independent bits per token
    (functions/text.hash32_pair — one xxhash64 / one md5 call per token).

    Shape (scale rationale): explode distinct tokens → hash each token ONCE →
    groupBy(doc_id) with 64 CASE-sum bit votes. The partial (map-side) agg
    reduces each doc's contribution to 64 ints per partition before the
    shuffle, so shuffle bytes are ~512 B/doc regardless of doc length — and a
    10 M-token doc never materializes a per-doc array. Tokenless docs get the
    zero signature via a narrow union (no join).

    The two-halves representation avoids 64-bit sign arithmetic entirely
    (bit 63 of a single BIGINT signature is the sign bit — DuckDB and ANSI
    Spark both object to building it by addition).
    """
    toks = F.array_distinct(X.tokens(F.col(text_col)))
    base = fanout(docs).select("doc_id", toks.alias("toks"))
    h_hi, h_lo = X.hash32_pair(F.col("t"), kernel)
    hashed = base.select("doc_id", F.explode("toks").alias("t")).select(
        "doc_id", h_hi.alias("h_hi"), h_lo.alias("h_lo")
    )

    def vote(src: str, j: int):
        bit = F.shiftright(F.col(src), j).bitwiseAND(F.lit(1))
        return F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v_{src}_{j}")

    votes = hashed.groupBy("doc_id").agg(
        *[vote("h_hi", j) for j in range(32)],
        *[vote("h_lo", j) for j in range(32)],
    )

    def assemble(src: str):
        terms = [
            F.when(F.col(f"v_{src}_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
            for j in range(32)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out

    sig = votes.select(
        "doc_id",
        assemble("h_hi").alias("sim_hi"),
        assemble("h_lo").alias("sim_lo"),
    )
    zero = F.lit(0).cast("long")
    # NULL text ⇒ toks is NULL: explode emits no rows AND size() is not 0
    # (NULL under ANSI, -1 legacy) — test both predicates or null-text docs
    # silently vanish from the signature relation (round-2 advice).
    empties = base.filter(F.col("toks").isNull() | (F.size("toks") == 0)).select(
        "doc_id", zero.alias("sim_hi"), zero.alias("sim_lo")
    )
    return sig.unionByName(empties)


def simhash64_sql(
    table: str = "documents", text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`simhash64` (md5 kernel)."""
    toks = f"list_distinct({X.tokens_sql(text_col)})"
    hi, lo = X.hash32_pair_sql("t")
    votes = ", ".join(
        f"sum(CASE WHEN ({src} >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{src}_{j}"
        for src in ("h_hi", "h_lo")
        for j in range(32)
    )

    def assemble(src: str) -> str:
        return " + ".join(
            f"(CASE WHEN v_{src}_{j} > 0 THEN {1 << j} ELSE 0 END)::BIGINT"
            for j in range(32)
        )

    return f"""
SELECT doc_id, {assemble('h_hi')} AS sim_hi, {assemble('h_lo')} AS sim_lo
FROM (
  SELECT doc_id, {votes}
  FROM (SELECT doc_id, {hi} AS h_hi, {lo} AS h_lo
        FROM (SELECT doc_id, unnest({toks}) AS t FROM {table}))
  GROUP BY doc_id
)
UNION ALL
SELECT doc_id, 0::BIGINT, 0::BIGINT FROM {table}
WHERE {toks} IS NULL OR len({toks}) = 0
"""


def simhash_neardup(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    kernel: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into 4 × 16-bit
    bands — a pair within Hamming distance 3 must agree on at least one band
    (pigeonhole: recall 1.0 for max_hamming <= 3) — then verify
    ``bit_count(a ^ b)``.

    Scale rationale for the 4×16 geometry: each band has 65,536 possible
    values, so at corpus size n the expected band-bucket holds ~n/65,536 docs
    and candidate volume is ~4 * n²/65,536 *before* signature skew — 256×
    fewer candidates than byte-bands over a 32-bit signature. Widen further
    (e.g. 8×16 over 128 bits) for max_hamming up to 7.

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming BIGINT.
    """
    sig = simhash64(docs, text_col, kernel)
    bands = F.array(
        F.shiftright(F.col("sim_hi"), 16),
        F.col("sim_hi").bitwiseAND(F.lit(0xFFFF)),
        F.shiftright(F.col("sim_lo"), 16),
        F.col("sim_lo").bitwiseAND(F.lit(0xFFFF)),
    )
    banded = sig.select(
        F.struct("doc_id", "sim_hi", "sim_lo").alias("m"),
        F.posexplode(bands).alias("band", "bv"),
    )
    # bucket-collect (see _bucket_pairs): one shuffle of the signature table,
    # pairs + hamming computed in place from the collected structs — no
    # self-join, no signature rejoin.
    buckets = (
        banded.groupBy("band", "bv")
        .agg(F.collect_list("m").alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    if max_bucket is not None:  # production skew guard — see _bucket_pairs
        buckets = buckets.filter(F.size("ms") <= max_bucket)
    pairs = (
        buckets.select(F.explode("ms").alias("a"), "ms")
        .select("a", F.explode("ms").alias("b"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
    )
    ham = (
        F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
        + F.bit_count(F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo")))
    ).cast("long")
    return (
        pairs.select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_neardup_sql(
    table: str = "documents", text_col: str = "text", max_hamming: int = 3
) -> str:
    sig = simhash64_sql(table, text_col)
    band_exprs = [
        "sim_hi >> 16",
        "sim_hi & 65535",
        "sim_lo >> 16",
        "sim_lo & 65535",
    ]
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, sim_hi, sim_lo, {b} AS band, ({e}) AS bv FROM sig"
        for b, e in enumerate(band_exprs)
    )
    return f"""
WITH sig AS ({sig}),
banded AS ({band_rows}),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         (bit_count(xor(a.sim_hi, b.sim_hi))
          + bit_count(xor(a.sim_lo, b.sim_lo)))::BIGINT AS hamming
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


# ------------------------------------------------------------ n-gram jaccard


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingle_k: int = 2,
    threshold: float = 0.35,
    max_df: int | None = 50,
    kernel: str = "xxhash64",
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs that share at least one
    *indexable* shingle (inverted-index join on the shingle — the scalable
    alternative to a cross join; shuffle is keyed by shingle, skew-handled by
    AQE).

    ``kernel="xxhash64"`` (production) keys the inverted index on
    ``xxhash64(shingle)`` instead of the raw string — index/shuffle rows
    become two longs (16 B) regardless of shingle length; a 64-bit false
    collision only *adds* a candidate, which the exact-Jaccard verify then
    rejects, so results are identical up to ~2^-64 noise. ``md5`` mode keeps
    raw strings (the oracle's shape).

    ``max_df``: shingles occurring in more than this many documents are
    dropped from the INDEX (not from the verify sets) — standard stop-shingle
    pruning. A shingle shared by d documents generates O(d²) candidates, so
    without the cap a common shingle turns the index join into a cross join.
    Recall is lost only for pairs whose every shared shingle is ultra-common.

    Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    """
    sets = _token_sets(docs, text_col, shingle_k)
    g = F.explode("sh").alias("g")
    if kernel == "xxhash64":
        inv = sets.select("doc_id", g).select("doc_id", F.xxhash64("g").alias("g"))
    else:
        inv = sets.select("doc_id", g).select("doc_id", "g")  # two scalars, no arrays
    # One groupBy replaces the df-count + rare-join + self-join (3 shuffles →
    # 1): the stop-shingle cap is simply a posting-list-size filter, and pairs
    # come from the collected posting list (see _bucket_pairs).
    posting = inv.groupBy("g").agg(F.collect_list("doc_id").alias("ids"))
    indexable = posting.filter(F.size("ids") >= 2)
    if max_df is not None:
        indexable = indexable.filter(F.size("ids") <= max_df)

    # Per-pair SHARED-SHINGLE COUNT (not just candidacy): the double explode
    # emits one row per (pair, shared indexable shingle), so the same shuffle
    # that dedups candidates also counts |A∩B| over the indexable space.
    shared = (
        indexable.select(F.explode("ids").alias("id_a"), "ids")
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )

    # EXACT upper-bound prune before the (array-heavy) verify. Per doc:
    # n = |shingle set|, c = shingles suppressed by the max_df cap (these can
    # be shared; df-1 singletons cannot). For a pair,
    #   true_shared <= shared + min(c_a, c_b) = ub
    #   true_jaccard <= ub / (n_a + n_b - ub)
    # so pairs failing the bound can never reach the threshold — identical
    # results, but the full shingle arrays are joined only for survivors
    # (measured: 1.1M candidates → O(10^3) verified at sf0.1).
    sized = sets.select("doc_id", F.size("sh").alias("n"))
    if max_df is not None:
        capped = (
            posting.filter(F.size("ids") > max_df)
            .select(F.explode("ids").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        stats = sized.join(capped, "doc_id", "left").na.fill({"c": 0})
    else:
        stats = sized.withColumn("c", F.lit(0))
    sa = stats.select(
        F.col("doc_id").alias("id_a"), F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    sb = stats.select(
        F.col("doc_id").alias("id_b"), F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    ub = F.col("shared") + F.least("c_a", "c_b")
    j_ub = ub / (F.col("n_a") + F.col("n_b") - ub)
    survivors = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(j_ub >= threshold)
        .select("id_a", "id_b")
    )
    return _verify_jaccard(survivors, sets, threshold)


def ngram_jaccard_pairs_sql(
    table: str = "documents",
    text_col: str = "text",
    shingle_k: int = 2,
    threshold: float = 0.35,
    max_df: int | None = 50,
) -> str:
    sets = _token_sets_sql(table, text_col, shingle_k)
    df_filter = (
        f"WHERE g IN (SELECT g FROM inv0 GROUP BY g HAVING count(*) <= {max_df})"
        if max_df is not None
        else ""
    )
    return f"""
WITH sets AS ({sets}),
inv0 AS (SELECT doc_id, sh, unnest(sh) AS g FROM sets),
inv AS (SELECT * FROM inv0 {df_filter}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(sa.sh, sb.sh))
         / len(list_distinct(sa.sh || sb.sh)) AS jaccard
FROM cand c
JOIN sets sa ON sa.doc_id = c.id_a
JOIN sets sb ON sb.doc_id = c.id_b
WHERE len(list_intersect(sa.sh, sb.sh))
        / len(list_distinct(sa.sh || sb.sh)) >= {threshold}
"""


# ==================================================== pairs -> clusters ====
def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup PAIRS → dedup CLUSTERS: ``(doc_id, cluster_id)`` with
    ``cluster_id`` = the smallest doc id of the connected component — which
    doubles as the canonical survivor, so "keep one per dup set" is
    ``filter(doc_id == cluster_id)`` plus the never-paired docs.

    This is the step every curation pipeline runs after pair generation:
    pairs alone over-delete (a–b and b–c pairs decided independently can
    drop both b AND c, or keep two of {a, b, c}); the component closure
    makes the keep-set consistent.

    Min-label propagation: every node starts labeled with itself; each
    round takes the min over its own and its neighbors' labels; converged
    when nothing changed. Rounds = component diameter — near-dup components
    are shallow quasi-cliques (band collisions), so a handful of rounds
    suffices; the O(log n)-round large-star/small-star variant (Kiveris et
    al., "Connected Components in MapReduce") slots into this loop if a
    workload ever produces deep chains. Per round: ONE edge⋈label shuffle
    + a min aggregation + one bounded convergence count; label frames are
    ``localCheckpoint``'d so plan lineage stays flat across rounds (the
    iterative-loop lesson from IVF's ``train_centroids``).

    Raises ``RuntimeError`` when labels still change in round ``max_iter``:
    some node sits more than ``max_iter - 1`` hops from its component's
    smallest id, and its label would be a non-minimal id that splits the
    component.
    """
    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    edges = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()  # reused every round: materialize once, flat lineage
    labels = (
        edges.select(F.col("a").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.withColumnRenamed("id", "a"), "a")
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("label").alias("nlabel"))
        )
        joined = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("label"), F.coalesce("nlabel", "label")).alias("label"),
            (F.col("nlabel") < F.col("label")).alias("_chg"),
        )
        new_labels = joined.localCheckpoint()
        changed = new_labels.where(F.col("_chg")).count()
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds: {changed} labels changed in the last round"
        )
    return labels.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("label").cast("long").alias("cluster_id"),
    )


def connected_components_sql(
    pairs_sql: str, src: str = "id_a", dst: str = "id_b"
) -> str:
    """DuckDB twin of :func:`connected_components`: transitive closure via a
    recursive CTE (labels walk the symmetric edge set; UNION dedups states,
    so the walk terminates), then min label per node. Exponential-blowup
    safe only at oracle scale — the Spark face is the production path."""
    return f"""
WITH RECURSIVE
p AS ({pairs_sql}),
e AS (SELECT {src} AS a, {dst} AS b FROM p
      UNION SELECT {dst}, {src} FROM p),
walk(id, label) AS (
    SELECT a, a FROM e
    UNION
    SELECT e.b, w.label FROM walk w JOIN e ON e.a = w.id
)
SELECT id::BIGINT AS doc_id, min(label)::BIGINT AS cluster_id
FROM walk GROUP BY id
"""
