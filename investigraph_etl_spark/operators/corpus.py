"""Corpus-preparation operators for training-data pipelines: token-window
chunking, deterministic sampling, and sequence packing.

These are the steps between "deduped documents" and "training batches":

- :func:`chunk_tokens` — split each document into fixed-token-budget windows
  (context-length preparation). Narrow per-row work (array slice + explode),
  zero shuffle: the plan scales linearly with corpus size.
- :func:`sample_hash` — deterministic hash-mod sampling (repeatable
  train/eval splits, down-sampling). A pure filter: pushes into the scan
  stage, no shuffle, stable under reruns and re-partitioning — unlike
  ``df.sample`` whose output depends on partition layout.
- :func:`pack_sequences` — greedy contiguous packing of documents into
  token-budget bins (sequence packing for pretraining batches). Documents are
  salted into ``n_groups`` independent streams and binned by a running token
  sum WITHIN each group — the window is per-group, so the shuffle is an
  even ``n_groups``-way exchange and no single partition ever sees the whole
  corpus (a global ORDER BY would serialize at 100 TB). Each closed bin's
  token total is within one document's size of the budget (greedy fill
  semantics, documented contract); pre-chunking long documents with
  :func:`chunk_tokens` bounds the deviation.

Each operator has a DuckDB ``*_sql`` twin derived from the same constants for
the driver's value-hash gate. Hash faces follow the engine convention
(functions/text.py): md5 is the portable oracle kernel; production use passes
``kernel="xxhash64"`` where a hash is involved.

Reference parity: the reference has no training-data stage (these are the
north-star additions, SURVEY §2.4); its closest analog is chunked record
iteration (/root/reference/investigraph/pipeline.py:113-127).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from investigraph_etl_spark.functions.text import tokens, tokens_sql


# ------------------------------------------------------------------ chunking
def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 64,
    tokenizer=None,
) -> DataFrame:
    """Split each document into consecutive ``k``-token chunks.

    Output: one row per chunk — (id, chunk_idx, chunk_text, n_tokens) with
    ``n_tokens == k`` everywhere except the final chunk. Zero-token documents
    yield no rows. Narrow (explode over a per-row index sequence); no shuffle.

    ``tokenizer``: a trained :class:`functions.bpe.BpeTokenizer` — the token
    budget ``k`` is then counted in REAL BPE tokens (the training-data
    contract) instead of whitespace tokens, the pieces come from one
    Arrow-batched pandas UDF per row, and ``chunk_text`` is the exact
    detokenization of the chunk's pieces (whitespace-normalized). The
    whitespace face (default) stays the DuckDB oracle twin.
    """
    if tokenizer is not None:
        from investigraph_etl_spark.functions.bpe import EOW, pieces_udf, unescape_expr

        toks = pieces_udf(tokenizer)(F.col(text_col))
        detok = lambda c: F.trim(  # noqa: E731
            unescape_expr(F.regexp_replace(F.concat_ws("", c), EOW, " "))
        )
    else:
        toks = tokens(F.col(text_col))
        detok = lambda c: F.concat_ws(" ", c)  # noqa: E731
    base = df.select(F.col(id_col), toks.alias("_toks")).where(F.size("_toks") > 0)
    n_chunks = F.ceil(F.size("_toks") / F.lit(k)).cast("int")
    out = base.select(
        id_col,
        F.explode(F.sequence(F.lit(1), n_chunks)).alias("_i"),
        "_toks",
    )
    start = (F.col("_i") - 1) * k
    return out.select(
        id_col,
        (F.col("_i") - 1).cast("long").alias("chunk_idx"),
        detok(F.slice("_toks", start + 1, k)).alias("chunk_text"),
        F.least(F.size("_toks") - start, F.lit(k)).cast("long").alias("n_tokens"),
    )


def chunk_tokens_sql(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id",
    k: int = 64,
) -> str:
    toks = tokens_sql(text_col)
    return f"""
WITH t AS (SELECT {id_col}, {toks} AS toks FROM {table}),
c AS (
  SELECT {id_col},
         unnest(list_transform(
           generate_series(1, ceil(len(toks) / {k})::BIGINT),
           i -> {{'chunk_idx': i - 1,
                  'chunk_text': array_to_string(toks[(i-1)*{k} + 1 : i*{k}], ' '),
                  'n_tokens': least(len(toks) - (i-1)*{k}, {k})}})) AS u
  FROM t WHERE len(toks) > 0)
SELECT {id_col}, u.chunk_idx::BIGINT AS chunk_idx,
       u.chunk_text AS chunk_text, u.n_tokens::BIGINT AS n_tokens
FROM c
"""


# ------------------------------------------------------------------ sampling
def _hash_mod(col: Column, modulus: int, kernel: str, salt: str) -> Column:
    salted = F.concat(col.cast("string"), F.lit(salt))
    if kernel == "xxhash64":
        return F.pmod(F.xxhash64(salted), F.lit(modulus))
    return F.pmod(
        F.conv(F.substring(F.md5(salted), 1, 8), 16, 10).cast("long"),
        F.lit(modulus),
    )


def sample_hash(
    df: DataFrame,
    id_col: str = "doc_id",
    pct: int = 10,
    salt: str = "s0",
    kernel: str = "xxhash64",
) -> DataFrame:
    """Deterministic ``pct``-percent sample: keep rows whose salted id hashes
    into the first ``pct`` of 100 buckets. Same salt ⇒ same sample on every
    run, cluster size, and partition layout; disjoint salts ⇒ independent
    splits (train/eval). Pure filter — no shuffle, prunes at the scan."""
    return df.where(_hash_mod(F.col(id_col), 100, kernel, salt) < pct)


def sample_hash_sql(
    table: str = "documents", id_col: str = "doc_id", pct: int = 10,
    salt: str = "s0", cols: str = "*",
) -> str:
    h = f"('0x' || substr(md5({id_col}::VARCHAR || '{salt}'), 1, 8))::BIGINT"
    return f"SELECT {cols} FROM {table} WHERE {h} % 100 < {pct}"


#: stratified-sampling fraction resolution: fractions are expressed in
#: basis points of this many hash buckets.
_STRATA_BUCKETS = 10_000


def _strata_threshold(frac: float) -> int:
    """Buckets (of ``_STRATA_BUCKETS``) a fraction keeps. A positive
    fraction that rounds to 0 buckets would silently sample nothing, so it
    raises instead."""
    thr = int(round(frac * _STRATA_BUCKETS))
    if frac > 0 and thr == 0:
        raise ValueError(
            f"sampling fraction {frac!r} rounds to 0 of the sampler's "
            f"{_STRATA_BUCKETS} hash buckets (its resolution); it would "
            "keep no rows"
        )
    return thr


def sample_stratified(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "s0",
    kernel: str = "xxhash64",
) -> DataFrame:
    """Deterministic per-GROUP sampling — the mix re-balancing step of a
    training-data pipeline (keep 100% of a rare language/domain, 5% of the
    dominant one). A row is kept iff its salted id hashes under its group's
    share of ``_STRATA_BUCKETS`` buckets, so the sample is layout- and
    cluster-size-invariant and repeatable like :func:`sample_hash`, and
    per-group rates are exact in expectation with zero coordination — no
    count pass, no shuffle: the fraction table compiles to a literal CASE
    (KBs in the plan) and the whole operator is a scan-stage filter.
    Groups absent from ``fractions`` fall back to ``default``."""
    bucket = _hash_mod(F.col(id_col), _STRATA_BUCKETS, kernel, salt)
    thr = None
    for g, frac in sorted(fractions.items()):
        t = F.lit(_strata_threshold(frac))
        thr = F.when(F.col(group_col) == g, t) if thr is None else thr.when(
            F.col(group_col) == g, t
        )
    dflt = F.lit(_strata_threshold(default))
    thr = dflt if thr is None else thr.otherwise(dflt)
    return df.where(bucket < thr)


def sample_stratified_sql(
    table: str = "documents",
    group_expr: str = "lang",
    fractions: dict[str, float] | None = None,
    default: float = 0.0,
    id_col: str = "doc_id",
    salt: str = "s0",
    cols: str = "*",
) -> str:
    """DuckDB twin of :func:`sample_stratified` (md5 kernel)."""
    fractions = fractions or {}
    h = (
        f"('0x' || substr(md5({id_col}::VARCHAR || '{salt}'), 1, 8))::BIGINT"
        f" % {_STRATA_BUCKETS}"
    )
    whens = " ".join(
        f"WHEN '{g}' THEN {_strata_threshold(frac)}"
        for g, frac in sorted(fractions.items())
    )
    dflt = _strata_threshold(default)
    case = f"CASE {group_expr} {whens} ELSE {dflt} END" if whens else f"{dflt}"
    return f"SELECT {cols} FROM {table} WHERE {h} < {case}"


# ------------------------------------------------------------------- packing
def with_token_counts(
    df: DataFrame, tokenizer, text_col: str = "text",
    out_col: str = "n_tokens",
) -> DataFrame:
    """Add a real-BPE token-count column (Arrow-batched) — the canonical
    input to :func:`pack_sequences` when budgets are measured in BPE tokens
    (``pack_sequences(with_token_counts(df, tok), budget=4096)``)."""
    from investigraph_etl_spark.functions.bpe import token_count_udf

    return df.withColumn(out_col, token_count_udf(tokenizer)(F.col(text_col)))


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 512,
    n_groups: int = 64,
    kernel: str = "xxhash64",
) -> DataFrame:
    """Assign each document a packing bin of ~``budget`` tokens.

    Greedy contiguous fill: documents are salted into ``n_groups`` streams,
    ordered by id within the stream, and a bin closes when the running token
    sum crosses the budget — every closed bin's token total is within one
    document's size of the budget on either side (a document straddling a
    boundary is charged to the bin it starts in).
    ``bin = floor(tokens_before / budget)`` over a PER-GROUP window: the only
    exchange is the even n_groups-way hash partition (no global sort; each
    window sees corpus/n_groups rows). Output adds (grp, bin, tokens_before).
    """
    grp = _hash_mod(F.col(id_col), n_groups, kernel, "pack")
    out = df.withColumn("grp", grp)
    w = (
        Window.partitionBy("grp")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0)).cast("long")
    return out.select(
        id_col,
        F.col(tokens_col).cast("long").alias(tokens_col),
        "grp",
        before.alias("tokens_before"),
        F.floor(before / F.lit(budget)).cast("long").alias("bin"),
    )


def pack_sequences_sql(
    inner: str,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    budget: int = 512,
    n_groups: int = 64,
) -> str:
    """DuckDB twin over ``inner`` (a subquery providing id + token counts)."""
    h = f"('0x' || substr(md5({id_col}::VARCHAR || 'pack'), 1, 8))::BIGINT"
    return f"""
WITH g AS (SELECT {id_col}, {tokens_col}, {h} % {n_groups} AS grp FROM ({inner})),
w AS (
  SELECT {id_col}, {tokens_col}::BIGINT AS {tokens_col}, grp,
         coalesce(sum({tokens_col}) OVER (
           PARTITION BY grp ORDER BY {id_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
           AS tokens_before
  FROM g)
SELECT {id_col}, {tokens_col}, grp, tokens_before,
       floor(tokens_before / {budget})::BIGINT AS bin
FROM w
"""
