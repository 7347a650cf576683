"""Training-data preparation operators: deterministic sampling / dataset
splits and token-budget sharding over ``documents``.

These are the last-mile ops of a 100 TB training pipeline (after dedup /
quality filtering, before the trainer reads shards), designed Spark-first:

- **Sampling / splits** are stateless per-row hash arithmetic — pure native
  integer expressions (no ``rand()`` nondeterminism, no shuffle, no state).
  The same row lands in the same split on any cluster, any partitioning,
  any re-run: lineage-stable splits are what make a 10^12-row train/val
  separation auditable.  The hash is plain BIGINT multiply-mod (the Knuth
  constant already used by the geotag fixture, FIXTURES.md F7), identical
  in Spark and DuckDB, so the driver oracle states ground truth with the
  same arithmetic.
- **Token-budget sharding** assigns each document to a training shard such
  that shards hold ~``budget`` whitespace tokens each, in a deterministic
  global order.  The scale shape is the two-stage cumulative sum: stage 1
  aggregates per-bucket token totals (one narrow groupBy over n_buckets
  keys), the driver turns that bounded table into exclusive bucket offsets,
  stage 2 adds a per-bucket window cumsum to the broadcast offset.  The
  only global coordination is the n_buckets-row collect; the windows
  parallelize per bucket — exactly how ~n_buckets shard streams are
  written on a real cluster.  A single global orderBy window (the naive
  formulation) would serialize 10^12 rows through one partition.

KEY DOMAIN: |key| must stay below ~3.47e9 (2^63 / 2654435761) so the
multiply cannot overflow BIGINT; generated fixture ids satisfy this, and
wider keys should be pre-masked (same contract as s2_geotag_lat/lng,
functions/sql_api.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.session import local_frame

KNUTH = 2654435761
MIX_ADD = 1013904223
HASH_MOD = 4_294_967_296  # 2^32


def _hash_expr(key_col: str, salt: int) -> str:
    """Portable [0, 2^32) hash: identical text evaluates in Spark SQL and
    DuckDB (nonnegative dividend, so % agrees between the engines).  The
    salt product is folded into a literal — DuckDB would otherwise
    evaluate ``salt * MIX_ADD`` in INT32 and overflow."""
    return f"(({key_col} * {KNUTH} + {salt * MIX_ADD}) % {HASH_MOD})"


def split_thresholds(weights: dict[str, float]) -> list[tuple[str, int]]:
    """[(label, exclusive upper hash bound), ...] with integer bounds so
    both engines compare exactly; the last bound is forced to 2^32."""
    total = sum(weights.values())
    bounds: list[tuple[str, int]] = []
    acc = 0.0
    for label, w in weights.items():
        acc += w / total
        bounds.append((label, int(acc * HASH_MOD)))
    last_label, _ = bounds[-1]
    bounds[-1] = (last_label, HASH_MOD)
    return bounds


def split_case_sql(weights: dict[str, float], key_col: str = "doc_id", salt: int = 0) -> str:
    """CASE expression assigning the split label — same text for both
    dialects (pure integer arithmetic + comparisons)."""
    h = _hash_expr(key_col, salt)
    parts = []
    bounds = split_thresholds(weights)
    for label, hi in bounds[:-1]:
        parts.append(f"WHEN {h} < {hi} THEN '{label}'")
    return f"(CASE {' '.join(parts)} ELSE '{bounds[-1][0]}' END)"


def assign_splits(
    df: DataFrame, weights: dict[str, float], key_col: str = "doc_id", salt: int = 0
) -> DataFrame:
    """Add a deterministic ``split`` label column (train/val/test/...).

    One native projection — no shuffle, no rand(), re-run-stable."""
    return df.withColumn("split", F.expr(split_case_sql(weights, key_col, salt)))


def deterministic_sample(
    df: DataFrame, fraction: float, key_col: str = "doc_id", salt: int = 0
) -> DataFrame:
    """Keep a deterministic ~``fraction`` of rows by key hash.

    Unlike ``DataFrame.sample`` this is reproducible across runs, clusters
    and partitionings, and different ``salt`` values draw independent
    samples from the same corpus."""
    threshold = int(fraction * HASH_MOD)
    return df.filter(F.expr(f"{_hash_expr(key_col, salt)} < {threshold}"))


def sample_filter_sql(fraction: float, key_col: str = "doc_id", salt: int = 0) -> str:
    return f"({_hash_expr(key_col, salt)} < {int(fraction * HASH_MOD)})"


# ---------------------------------------------------------------------------
# Token-budget sharding
# ---------------------------------------------------------------------------
def bucket_expr_sql(key_col: str = "doc_id", n_buckets: int = 64) -> str:
    return f"({_hash_expr(key_col, 1)} % {n_buckets})"


def shard_by_token_budget(
    docs: DataFrame,
    budget_tokens: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """(key, bucket, n_tokens, shard): deterministic shard assignment where
    shard s spans global token offsets [s*budget, (s+1)*budget) in the
    (bucket, key) order; a document belongs to the shard its FIRST token
    falls in (documents are not split).

    Two-stage cumsum (see module docstring): per-bucket totals -> bounded
    driver collect -> exclusive offsets -> per-bucket window + offset.  The
    result equals the single global window ``SUM() OVER (ORDER BY bucket,
    key ROWS UNBOUNDED PRECEDING AND 1 PRECEDING)`` the DuckDB oracle runs,
    without ever materializing a one-partition global sort."""
    return global_token_offsets(docs, key_col, text_col, n_buckets).select(
        key_col,
        "bucket",
        "n_tokens",
        F.expr(f"_o DIV {int(budget_tokens)}").alias("shard"),
    )


def global_token_offsets(
    docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """(key, bucket, n_tokens, _o [, passthrough...]): each document's
    exclusive global token offset in the deterministic (bucket, key)
    concatenation order — THE shared stream definition behind token
    shards, sequence packing, and sequence materialization (one
    implementation so the three can never drift apart).  Two-stage
    cumsum: per-bucket totals (one narrow groupBy over n_buckets keys,
    bounded collect — column pruning drops any passthrough columns from
    that aggregation scan) -> broadcast exclusive bucket offsets ->
    per-bucket window cumsum.  Equals the single global window the DuckDB
    oracles run, without the one-partition global sort.  ``passthrough``
    carries extra columns (e.g. the text itself) through the window so
    consumers need no corpus-sized join back to the source."""
    base = docs.select(
        F.col(key_col),
        F.expr(bucket_expr_sql(key_col, n_buckets)).cast("int").alias("bucket"),
        F.expr(f"size(split({text_col}, ' '))").cast("long").alias("n_tokens"),
        *[F.col(c) for c in passthrough],
    )
    totals = {
        r["bucket"]: r["total"]
        for r in base.groupBy("bucket").agg(F.sum("n_tokens").alias("total")).collect()
    }
    offsets, acc = [], 0
    for b in sorted(totals):
        offsets.append((b, acc))
        acc += int(totals[b])
    spark = docs.sparkSession
    off_df = local_frame(spark, offsets, "bucket int, _offset long")
    w = (
        Window.partitionBy("bucket")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.join(F.broadcast(off_df), "bucket")
        .withColumn(
            "_o",
            (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("_offset")).cast("long"),
        )
        .drop("_offset")
    )


def shard_oracle_sql(
    table: str,
    budget_tokens: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> str:
    """DuckDB twin: one global window in (bucket, key) order — fine at
    oracle scale, the very plan the distributed operator avoids."""
    bucket = bucket_expr_sql(key_col, n_buckets)
    toks = f"len(string_split({text_col}, ' '))"
    return (
        f"SELECT {key_col}, CAST({bucket} AS INTEGER) AS bucket, "
        f"CAST({toks} AS BIGINT) AS n_tokens, "
        f"CAST(COALESCE(SUM({toks}) OVER (ORDER BY {bucket}, {key_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // {budget_tokens} AS BIGINT) AS shard "
        f"FROM {table}"
    )


# ---------------------------------------------------------------------------
# Sequence packing (concatenate-and-slice) for fixed-context pretraining
# ---------------------------------------------------------------------------
def pack_concat_slices(
    docs: DataFrame,
    context_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """GPT-style sequence packing metadata: documents concatenate in the
    deterministic (bucket, key) order into one global token stream, which
    slices into fixed ``context_len`` training sequences (documents MAY
    span sequence boundaries — the classic padding-free pretraining
    recipe).  Emits per document:

      start_seq      sequence holding the document's first token
      end_seq        sequence holding its last token
      offset_in_seq  position of the first token within start_seq

    so a trainer (or the shard writer) can materialize any sequence s by
    ranging over documents with start_seq <= s <= end_seq — an equi/range
    probe on a cumsum column, no data movement here at all.

    Scale shape: the shared ``global_token_offsets`` two-stage cumulative
    sum (bounded n_buckets-row collect for exclusive bucket offsets,
    per-bucket window for the intra-bucket cumsum) — the
    single-global-window formulation the DuckDB oracle runs would
    serialize 10^12 rows through one partition.  Sequence ids are integer
    division (``DIV``; offsets are non-negative, so it is floor), exact past
    the 2^53 tokens where a double quotient rounds."""
    c = int(context_len)
    return global_token_offsets(docs, key_col, text_col, n_buckets).select(
        key_col,
        "bucket",
        "n_tokens",
        F.expr(f"_o DIV {c}").alias("start_seq"),
        F.expr(f"(_o + n_tokens - 1) DIV {c}").alias("end_seq"),
        (F.col("_o") % F.lit(c)).cast("long").alias("offset_in_seq"),
    )


def pack_oracle_sql(
    table: str,
    context_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> str:
    """DuckDB twin of ``pack_concat_slices``: ONE global window in
    (bucket, key) order."""
    bucket = bucket_expr_sql(key_col, n_buckets)
    toks = f"len(string_split({text_col}, ' '))"
    o = (
        f"COALESCE(SUM({toks}) OVER (ORDER BY {bucket}, {key_col} "
        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    return (
        f"SELECT {key_col}, CAST({bucket} AS INTEGER) AS bucket, "
        f"CAST({toks} AS BIGINT) AS n_tokens, "
        f"CAST({o} // {context_len} AS BIGINT) AS start_seq, "
        f"CAST(({o} + {toks} - 1) // {context_len} AS BIGINT) AS end_seq, "
        f"CAST({o} % {context_len} AS BIGINT) AS offset_in_seq "
        f"FROM {table}"
    )


# ---------------------------------------------------------------------------
# Domain-mixture (stratified) sampling
# ---------------------------------------------------------------------------
def stratified_case_sql(
    fractions: dict[str, float], domain_col: str = "source", key_col: str = "doc_id", salt: int = 2
) -> str:
    """Filter predicate keeping a deterministic ~fractions[d] of each
    domain's rows (domains absent from the dict are DROPPED) — pure
    integer hash-threshold arithmetic, identical text in Spark SQL and
    DuckDB.  Thresholds are Python-computed integer literals, so there is
    no cross-engine float normalization anywhere.  Domain names are
    DATA-derived (groupBy(domain) feeds temperature_fractions feeds this),
    so single quotes are escaped the ANSI way ('' — same rule in both
    dialects)."""
    h = _hash_expr(key_col, salt)
    arms = " ".join(
        f"WHEN '{d.replace(chr(39), chr(39) * 2)}' THEN "
        f"{int(min(max(f, 0.0), 1.0) * HASH_MOD)}"
        for d, f in sorted(fractions.items())
    )
    return f"({h} < (CASE {domain_col} {arms} ELSE 0 END))"


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    domain_col: str = "source",
    key_col: str = "doc_id",
    salt: int = 2,
) -> DataFrame:
    """Domain-mixture downsampling: keep each domain at its target
    fraction with the stateless hash filter — ONE native predicate, no
    shuffle, no rand(); the same row survives on any cluster/partitioning/
    re-run.  This is how a precomputed mixture (e.g. temperature weights
    from ``temperature_fractions``) is applied to a 10^12-row corpus:
    the mixture math runs over the bounded per-domain count table, the
    corpus itself only ever sees a codegen'd filter."""
    return docs.filter(F.expr(stratified_case_sql(fractions, domain_col, key_col, salt)))


def temperature_fractions(
    domain_counts: dict[str, int], tau: float = 0.5, target_total: int | None = None
) -> dict[str, float]:
    """Temperature-flattened mixture weights -> per-domain keep fractions.

    q_d = n_d^tau / sum(n^tau) (tau in (0, 1]: 1 = natural proportions,
    -> 0 = uniform over domains); the returned fraction downsamples domain
    d to q_d * target_total rows (capped at keeping every row — classic
    multilingual/multi-source rebalancing a la temperature sampling).
    Pure driver-side math over the BOUNDED per-domain count table (a
    groupBy(domain).count() collect — domains number in the hundreds, not
    the billions); feed the result to ``stratified_sample``."""
    if not 0.0 < tau <= 1.0:
        raise ValueError(f"tau must be in (0, 1], got {tau}")
    n = {d: int(c) for d, c in domain_counts.items()}
    total = sum(n.values())
    if target_total is None:
        target_total = total
    z = sum(c**tau for c in n.values())
    return {d: min(1.0, (c**tau / z) * target_total / c) for d, c in n.items() if c > 0}


def materialize_sequences(
    docs: DataFrame,
    context_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> DataFrame:
    """Trainer-facing completion of ``pack_concat_slices``: actually
    assemble the fixed-context sequences.  Emits one row per sequence id:

      (seq_id, n_tokens, n_docs, text)

    where ``text`` is the space-joined token slice of the global stream
    covering [seq_id*context_len, (seq_id+1)*context_len) — every sequence
    holds exactly context_len tokens except the final partial one.

    Scale shape: the shared ``global_token_offsets`` cumsum carries the
    text through its per-bucket window (``passthrough`` — no join back to
    the corpus), tokens then posexplode in place (row count = corpus token
    count — narrow rows, linear, no shuffle of their own), and the only
    token-sized exchange is the final seq_id aggregation; per-sequence
    state is bounded by context_len tokens, so assembly cannot skew beyond
    the context length no matter how documents are distributed.  Total
    shuffle bill: one doc-sized exchange (the bucket window, text
    included), one bounded totals agg, one token-sized seq_id agg."""
    off = global_token_offsets(docs, key_col, text_col, n_buckets, passthrough=(text_col,))
    toks = off.select(
        key_col,
        "_o",
        F.posexplode(F.split(F.col(text_col), " ")).alias("_pos", "_tok"),
    ).select(
        key_col,
        (F.col("_o") + F.col("_pos")).alias("_gpos"),
        "_tok",
    )
    c = int(context_len)
    return (
        toks.groupBy(F.expr(f"_gpos DIV {c}").alias("seq_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct(key_col).cast("long").alias("n_docs"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col("_gpos"), F.col("_tok")))),
                    lambda x: x["_tok"],
                ),
            ).alias("text"),
        )
    )


def materialize_oracle_sql(
    table: str,
    context_len: int,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> str:
    """DuckDB twin of ``materialize_sequences``: global window for the doc
    offsets, parallel unnest for (token, position), ordered string_agg."""
    bucket = bucket_expr_sql(key_col, n_buckets)
    return f"""
WITH base AS (
  SELECT {key_col}, {bucket} AS bkt, string_split({text_col}, ' ') AS toks FROM {table}
), o AS (
  SELECT {key_col}, toks,
         COALESCE(SUM(len(toks)) OVER (ORDER BY bkt, {key_col}
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS doc_off
  FROM base
), tok AS (
  SELECT {key_col}, doc_off + unnest(range(len(toks))) AS gpos, unnest(toks) AS tok FROM o
)
SELECT CAST(gpos // {context_len} AS BIGINT) AS seq_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT {key_col}) AS BIGINT) AS n_docs,
       string_agg(tok, ' ' ORDER BY gpos) AS text
FROM tok GROUP BY 1
"""
