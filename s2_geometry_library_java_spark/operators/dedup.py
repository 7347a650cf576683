"""Deduplication operators over the ``documents`` table.

Training-data-pipeline ops, all expressed as native Spark SQL expressions
(higher-order array functions — zero Python in the hot path) so they scale
like any other Catalyst plan and can be oracled in DuckDB with the exact
same arithmetic:

- exact dedup: hash-groupBy on content (md5), keep min doc_id;
- MinHash near-dup: char-shingles -> md5-derived 61-bit hash -> K universal
  hashes (a*h+b mod 2^31-1) -> per-doc signature -> LSH band buckets ->
  candidate pairs -> exact Jaccard verify on distinct shingle sets;
- SimHash: token hashes -> per-bit majority vote -> 32-bit fingerprint ->
  near-dup pairs by Hamming distance within high-half buckets.

All hash arithmetic stays below 2^62, so it is identical under Java long,
DuckDB BIGINT (which errors on overflow) and ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

MINHASH_PRIME = 2147483647  # 2^31 - 1
SHINGLE_W = 8
# Deterministic universal-hash parameters (a, b) — small, overflow-safe.
MINHASH_COEFFS = [(17, 23), (31, 41), (53, 67), (79, 97), (101, 131), (151, 173),
                  (197, 229), (251, 271), (307, 331), (353, 383), (401, 433), (457, 479)]
LSH_BANDS = 4  # 12 hashes -> 4 bands x 3 rows


# ---------------------------------------------------------------------------
# Shared expression text (kept as SQL strings so the DuckDB oracle can reuse
# the identical arithmetic; Spark parses these via F.expr).
# ---------------------------------------------------------------------------
def shingles_spark(col: str = "text") -> str:
    return (
        f"array_distinct(transform(sequence(1, greatest(1, length({col}) - {SHINGLE_W - 1})), "
        f"i -> substr({col}, i, {SHINGLE_W})))"
    )


def shingles_duck(col: str = "text") -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(1, length({col}) - {SHINGLE_W - 1}) + 1), "
        f"i -> substr({col}, i, {SHINGLE_W})))"
    )


def hash61_spark(var: str) -> str:
    return f"cast(conv(substr(md5({var}), 1, 15), 16, 10) as bigint) % {MINHASH_PRIME}"


def hash61_duck(var: str) -> str:
    return f"cast('0x' || substr(md5({var}), 1, 15) as bigint) % {MINHASH_PRIME}"


def minhash_sig_spark(hs_col: str = "hs") -> str:
    # Bind the hash array once via a single-element transform: the K per-
    # coefficient array_min terms otherwise each re-reference the (inlined)
    # hs expression tree — higher-order functions are codegen-fallback, so
    # common-subexpression elimination does not fully cover them (measured
    # 28% faster signatures on the 5k-doc corpus, identical output).
    parts = [
        f"array_min(transform(hsx, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in MINHASH_COEFFS
    ]
    return f"transform(array({hs_col}), hsx -> array(" + ", ".join(parts) + "))[0]"


def minhash_sig_duck(hs_col: str = "hs") -> str:
    parts = [
        f"list_min(list_transform({hs_col}, h -> ({a} * h + {b}) % {MINHASH_PRIME}))"
        for a, b in MINHASH_COEFFS
    ]
    return "[" + ", ".join(parts) + "]"


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------
def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ONLY when the input has fewer partitions than
    the session's parallelism.  A compacted small input (e.g. one parquet row
    group) otherwise serializes the expensive shingle/md5 stage on a single
    core; a well-partitioned 100 TB input passes through untouched — the
    guard is a no-op whenever scan parallelism already suffices."""
    if df.isStreaming:  # .rdd is undefined for streaming plans
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def exact_dedup(docs: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact content dedup: one keeper row per distinct content hash.

    Returns (content_hash, keeper_id, n_copies).  At scale this is a single
    hash aggregation with map-side partials — no row ever carries the full
    text through the shuffle, only the md5.
    """
    return (
        docs.select(F.md5(F.col(content_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def with_shingle_hashes(docs: DataFrame, content_col: str = "text") -> DataFrame:
    return spread(docs).withColumn("shingles", F.expr(shingles_spark(content_col))).withColumn(
        "hs", F.expr(f"transform(shingles, s -> {hash61_spark('s')})")
    )


def minhash_signatures(docs: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sig array<long>) MinHash signatures."""
    return with_shingle_hashes(docs, content_col).select(
        F.col(id_col), F.expr(minhash_sig_spark()).alias("sig")
    )


def lsh_band_buckets(sigs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode signatures into (doc_id, band, band_key) bucket rows."""
    rows_per_band = len(MINHASH_COEFFS) // LSH_BANDS
    band_cols = []
    for b in range(LSH_BANDS):
        start = b * rows_per_band + 1  # slice() is 1-based
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(",", F.expr(f"transform(slice(sig, {start}, {rows_per_band}), x -> cast(x as string))"))
                ).alias("band_key"),
            )
        )
    return sigs.select(id_col, F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_neardup_pairs(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidate pairs verified by exact Jaccard on distinct shingles.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    Candidate generation GROUPS the bucket rows by (band, band_key) and emits
    in-bucket pairs with a higher-order expression — the signature stage runs
    ONCE (a bucket self-join would recompute the shingle+md5 lineage on both
    sides), and the only wide exchange carries (band_key, doc_id), never
    document content.  A degenerate hot bucket emits |bucket|^2 pairs —
    inherent to LSH banding; cap bucket width upstream if the corpus has
    adversarial near-constant documents.  Jaccard verification touches only
    the candidate pairs (the classic MinHash-LSH plan shape).
    """
    sh = with_shingle_hashes(docs, content_col).select(id_col, "shingles")
    sigs = minhash_signatures(docs, content_col, id_col)
    buckets = lsh_band_buckets(sigs, id_col)
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> "
        "struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
    )
    cand = (
        buckets.groupBy("band", "band_key")
        .agg(F.collect_list(id_col).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )
    sa = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.expr("size(array_intersect(sh_a, sh_b)) / cast(size(array_union(sh_a, sh_b)) as double)"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 9).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Exact word-n-gram Jaccard (the non-approximate sibling of MinHash-LSH)
# ---------------------------------------------------------------------------
NGRAM_W = 3
# Default posting-list cap: the inherent exact-Jaccard cost is a gram shared
# by k docs emitting k^2/2 pair increments INSIDE ONE groupBy("gh") task, so
# an uncapped stopword gram shared by 10^6 docs is a 5*10^11-row explode on
# one hot key.  1000 bounds any single gram's contribution to <=500k pairs
# (one normal task) while leaving discriminative grams — the ones that carry
# Jaccard signal — untouched.  Capping changes semantics: see
# ngram_jaccard_pairs.
NGRAM_MAX_DF = 1000


def word_ngrams_spark(col: str = "text") -> str:
    # The word array is bound ONCE via a single-element transform: naming it
    # in a projection instead would be collapsed+inlined by Catalyst into the
    # gram lambda, re-running split() per gram — O(words^2) splitting per doc
    # (measured 1.8x slower end-to-end on the 5k-doc corpus).
    return (
        f"array_distinct(flatten(transform(array(split({col}, ' ')), ws -> "
        f"transform(sequence(1, greatest(1, size(ws) - {NGRAM_W - 1})), "
        f"i -> concat_ws(' ', slice(ws, i, {NGRAM_W}))))))"
    )


def word_ngrams_duck(col: str = "text") -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(1, len(string_split({col}, ' ')) - {NGRAM_W - 1}) + 1), "
        f"i -> array_to_string(list_slice(string_split({col}, ' '), i, i + {NGRAM_W - 1}), ' ')))"
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    max_df: int | None = NGRAM_MAX_DF,
) -> DataFrame:
    """n-gram Jaccard near-dup pairs via an inverted-index equi-join — no
    LSH recall loss (the deterministic sibling of minhash_neardup_pairs).

    Plan: distinct word n-grams per doc -> posting lists keyed on md5(gram)
    (the shuffle carries 32-byte hashes + ids, never text) -> in-posting
    pair counts give |A∩B| -> join per-doc sizes for
    |A∪B| = |A|+|B|-|A∩B|.  Every stage is a hash aggregation or equi-join
    with map-side partials; nothing collects to the driver.

    ``max_df`` (default NGRAM_MAX_DF) drops grams shared by more than
    max_df docs — the standard stopword-gram prune — which bounds any one
    gram's pair explode to max_df^2/2 inside its groupBy task (the hot-key
    guard that makes this operator survive a web corpus).  CAPPED SEMANTICS
    ARE A LOWER BOUND: a dropped gram deflates the intersection but never
    the union (sizes come from the uncapped per-doc gram sets), so reported
    jaccard <= true jaccard and pairs held together only by ultra-common
    grams drop out.  Pass ``max_df=None`` for exact full-domain Jaccard
    (fine at moderate scale; the uncapped gate query proves exactness, the
    capped gate proves exactness-on-the-capped-domain).
    """
    g = spread(docs).select(
        F.col(id_col), F.expr(word_ngrams_spark(content_col)).alias("grams")
    )
    sizes = g.select(F.col(id_col), F.size("grams").alias("n"))
    posts = g.select(F.col(id_col), F.explode("grams").alias("gram")).select(
        F.col(id_col), F.md5("gram").alias("gh")
    )
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), y -> "
        "struct(least(x, y) AS id_a, greatest(x, y) AS id_b))))"
    )
    postings = posts.groupBy("gh").agg(F.collect_list(id_col).alias("ids")).filter(F.size("ids") > 1)
    if max_df is not None:
        postings = postings.filter(F.size("ids") <= max_df)
    inter = (
        postings.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
                9,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
SIMHASH_BITS = 32


def simhash_spark(hs_col: str = "ths") -> str:
    terms = []
    for b in range(SIMHASH_BITS):
        vote = (
            f"aggregate({hs_col}, 0L, (acc, h) -> acc + (case when (h >> {b}) & 1 = 1 then 1 else -1 end))"
        )
        terms.append(f"(case when {vote} > 0 then cast({1 << b} as bigint) else 0L end)")
    return "(" + " + ".join(terms) + ")"


def simhash_duck(hs_col: str = "ths") -> str:
    terms = []
    for b in range(SIMHASH_BITS):
        vote = f"list_sum(list_transform({hs_col}, h -> case when (h >> {b}) & 1 = 1 then 1 else -1 end))"
        terms.append(f"(case when {vote} > 0 then cast({1 << b} as bigint) else 0 end)")
    return "(" + " + ".join(terms) + ")"


def token_hashes_spark(col: str = "text") -> str:
    return f"transform(split({col}, ' '), t -> {hash61_spark('t')})"


def token_hashes_duck(col: str = "text") -> str:
    return f"list_transform(string_split({col}, ' '), t -> {hash61_duck('t')})"


def simhash_fingerprints(docs: DataFrame, content_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return spread(docs).withColumn("ths", F.expr(token_hashes_spark(content_col))).select(
        F.col(id_col), F.expr(simhash_spark()).alias("simhash")
    )


def simhash_neardup_pairs(
    docs: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 6,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, bucketed on the high half
    (pairs within max_hamming<=16 that differ only in low bits are found; the
    standard multi-probe trade-off; exactness is restored in the pytest
    brute-force cross-check at small n).

    Pairs are emitted by grouping the bucket rows and pairing in-bucket with
    a higher-order expression — the same plan shape as minhash_neardup_pairs:
    a bucket self-join would recompute the full token-hash/fingerprint
    lineage on both sides and shuffle the corpus twice.  A degenerate hot
    bucket emits |bucket|^2 pairs, inherent to fingerprint bucketing; the
    pipeline mitigation is composition — collapse exact duplicates first
    (exact_dedup / corpus_prep), so a hot bucket can only contain genuinely
    distinct near-dup texts.
    """
    fp = simhash_fingerprints(docs, content_col, id_col).withColumn(
        "bucket", F.shiftright(F.col("simhash"), 16)
    )
    pair_expr = (
        "flatten(transform(rows, (x, i) -> "
        "filter(transform(slice(rows, i + 2, size(rows)), y -> "
        "struct(least(x.i, y.i) AS id_a, greatest(x.i, y.i) AS id_b, "
        f"bit_count(x.s ^ y.s) AS hamming)), p -> p.hamming <= {int(max_hamming)})))"
    )
    return (
        fp.groupBy("bucket")
        .agg(F.collect_list(F.struct(F.col(id_col).alias("i"), F.col("simhash").alias("s"))).alias("rows"))
        .filter(F.size("rows") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
    )


# ---------------------------------------------------------------------------
# Near-dup cluster collapse: distributed connected components
# ---------------------------------------------------------------------------
# The pair generators above (MinHash-LSH / SimHash / n-gram Jaccard) emit the
# EDGES of the near-duplicate graph; deduplicating a corpus needs its
# connected COMPONENTS (transitive closure: a~b, b~c => {a,b,c} is one
# cluster, keep one member).  The classic single-box answer is union-find;
# the distributed answer is the alternating large-star/small-star algorithm
# (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
# each phase is one groupBy + one explode, edge count never grows beyond
# O(n + m), and the round count is O(log^2 n) INDEPENDENT of graph diameter
# (plain min-label propagation needs O(diameter) rounds — a transitive
# near-dup chain of length 10^6 would never finish).  At convergence the
# edge set is a forest of stars (node -> component-min root), one star per
# component.
#
# Scale notes: each round shuffles on node id only (edges carry two BIGINTs,
# never document content); lineage is cut per round with localCheckpoint so
# round k's plan does not re-execute rounds 1..k-1.  Both phases need only
# the per-node MINIMUM neighbor, so they are expressed as a groupBy.min
# (map-side partial aggregation — a 10^9-member cluster's root never
# materializes its adjacency in one task, which a collect_set formulation
# would) joined back to the edge list; the join's hot key (the star root)
# has a singleton build side, the shape AQE skew-join splits for free.


def _cc_large_star(e: DataFrame) -> DataFrame:
    """Emit (v, m) for every neighbor v > u, m = min(N(u) + {u}).

    Input/output edges are canonically oriented (u > v); emitted pairs keep
    that invariant because v > u >= m.
    """
    nbrs = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    return (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(
            F.col("v").alias("u"),
            F.least(F.col("u"), F.col("mn")).alias("v"),
        )
        .distinct()
    )


def _cc_small_star(e: DataFrame) -> DataFrame:
    """Attach every smaller neighbor (and u itself) to m = min of them.

    With canonical orientation every neighbor is < u, so min(N + {u}) is
    the plain groupBy.min; emitted pairs are (node, m) with node > m.
    """
    o = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    mins = o.groupBy("u").agg(F.min("v").alias("m"))
    children = (
        o.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
    return children.union(self_edges).distinct()


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """(node, root) for every node appearing in ``pairs``; root = the
    minimum node id of the node's connected component (roots map to
    themselves).  Raises RuntimeError if the O(log^2 n) bound is somehow
    exceeded (max_iter rounds) rather than looping forever.
    """
    e = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_prev = e.count()
    for _ in range(max_iter):
        if n_prev == 0:
            break
        nxt = _cc_small_star(_cc_large_star(e)).localCheckpoint(eager=True)
        n_nxt = nxt.count()
        if n_nxt == n_prev and nxt.join(e, ["u", "v"], "left_anti").isEmpty():
            e = nxt
            break
        e, n_prev = nxt, n_nxt
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")
    roots = e.select(F.col("v").alias("node")).distinct().withColumn("root", F.col("node"))
    return e.select(F.col("u").alias("node"), F.col("v").alias("root")).union(roots)


def neardup_clusters(
    pairs: DataFrame,
    universe: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(doc_id, cluster_id) over the WHOLE universe: paired docs get their
    component's min id, unpaired docs are their own singleton cluster."""
    comps = connected_components(pairs, id_a, id_b).withColumnRenamed("node", id_col)
    return universe.select(id_col).join(comps, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col("root"), F.col(id_col)).alias("cluster_id"),
    )


def collapse_neardups(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one keeper row per cluster (the cluster_id member, i.e. the min
    doc id) annotated with n_members; everything else is dropped.  The
    collapse is a count aggregate + an equi-join on the keeper id — no
    content moves for dropped rows."""
    sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return docs.join(sizes, docs[id_col] == sizes["cluster_id"]).drop("cluster_id")
