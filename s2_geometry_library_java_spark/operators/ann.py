"""Similarity search over the ``embeddings`` table (array<float> columns).

- ``cosine_topk``: brute-force exact top-k cosine — the correctness
  baseline.  The dot product is a native ``aggregate(zip_with(...))`` fold
  (JVM-side, sequential, bit-identical to DuckDB's list_dot_product — probed
  empirically), queries broadcast, ranking by window row_number.
- ``lsh_cosine_topk``: the scale path — random-hyperplane LSH bucket join:
  sign-bit signatures from D deterministic hyperplanes (seeded NumPy,
  computed in one vectorized pandas UDF), candidates = bucket collisions
  (multi-probe over all 1-bit flips), exact cosine re-rank within
  candidates.  Recall is validated against brute force in pytest, and
  ``lsh_recall`` emits the per-query recall as a deterministic DataFrame
  (gated against the single-process ``lsh_recall_local`` golden).
- ``embedding_neardup``: near-duplicate pairs with cosine >= threshold.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

from s2_geometry_library_java_spark.session import local_frame

LSH_BITS = 8
LSH_TABLES = 4
LSH_SEED = 20260816


def _dot_expr(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"0.0d, (acc, v) -> acc + v)"
    )


def _norm_expr(a: str) -> str:
    return f"sqrt({_dot_expr(a, a)})"


def cosine_expr(a: str, b: str) -> str:
    return f"({_dot_expr(a, b)} / ({_norm_expr(a)} * {_norm_expr(b)}))"


def cosine_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k neighbors for the first ``n_queries`` vectors (self-join,
    excluding self-matches).  Returns (query_id, vec_id, rank, sim)."""
    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    joined = embeddings.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
    sim = F.expr(cosine_expr("qvec", vec_col))
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        joined.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", F.round("_sim", 9).alias("sim"))
    )


def _hyperplanes(dim: int, bits: int = LSH_BITS, tables: int = LSH_TABLES) -> np.ndarray:
    rng = np.random.default_rng(LSH_SEED)
    return rng.standard_normal((tables, bits, dim))


def _fold_cosine(VA: np.ndarray, VB: np.ndarray) -> np.ndarray:
    """Cosine via strict left-fold dots — the exact operation order of
    aggregate(zip_with(a,b,...)): acc starts at 0.0 and adds terms in
    index order, vectorized across pairs.  Shared by the distributed
    operators' exact re-score and the single-process golden recomputes so
    both sides of a gate produce bit-identical doubles."""
    da = np.zeros(len(VA))
    db = np.zeros(len(VA))
    dab = np.zeros(len(VA))
    for d in range(VA.shape[1]):
        da += VA[:, d] * VA[:, d]
        db += VB[:, d] * VB[:, d]
        dab += VA[:, d] * VB[:, d]
    return dab / (np.sqrt(da) * np.sqrt(db))


def with_lsh_buckets(
    embeddings: DataFrame,
    dim: int,
    vec_col: str = "embedding",
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
) -> DataFrame:
    """Add ``lsh_buckets``: one sign-bit bucket per hash table (multi-table
    random-hyperplane LSH) — one vectorized matmul per Arrow batch."""
    planes = _hyperplanes(dim, bits, tables)  # (T, B, dim)

    @pandas_udf(ArrayType(IntegerType()))
    def lsh_sig(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        weights = (1 << np.arange(bits)).astype(np.int64)
        out = np.empty((len(mat), tables), dtype=np.int32)
        for t in range(tables):
            out[:, t] = ((mat @ planes[t].T > 0) @ weights).astype(np.int32)
        return pd.Series(list(out))

    return embeddings.withColumn("lsh_buckets", lsh_sig(F.col(vec_col)))


def lsh_cosine_topk(
    embeddings: DataFrame,
    dim: int,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
) -> DataFrame:
    """Approximate top-k: a candidate collides with the query in ANY table,
    under the exact bucket or any 1-bit probe flip; exact cosine re-rank.
    Recall follows the standard multi-table bound 1-(1-p^b)^T."""
    # No cache: the query lineage re-runs the signature UDF only on the
    # n_queries rows (filter pushes below the project), and an uncollected
    # cache would pin executor memory for the session (round-1 leak).
    emb_b = with_lsh_buckets(embeddings, dim, vec_col, bits, tables)
    data = emb_b.select(
        id_col, vec_col, F.posexplode("lsh_buckets").alias("table", "bucket")
    )
    probe_cols = []
    for t in range(tables):
        base = F.col("lsh_buckets").getItem(t)
        for flip in [0] + [1 << i for i in range(bits)]:
            probe_cols.append(F.struct(F.lit(t).alias("table"), base.bitwiseXOR(F.lit(flip)).alias("bucket")))
    q = (
        emb_b.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), F.explode(F.array(*probe_cols)).alias("p"))
        .select("query_id", "qvec", F.col("p.table").alias("table"), F.col("p.bucket").alias("bucket"))
    )
    cand = data.join(F.broadcast(q), ["table", "bucket"]).filter(F.col(id_col) != F.col("query_id"))
    sim = F.expr(cosine_expr("qvec", vec_col))
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        cand.select("query_id", id_col, vec_col, "qvec").distinct()
        .withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", F.round("_sim", 9).alias("sim"))
    )


def lsh_recall(
    embeddings: DataFrame,
    dim: int,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
) -> DataFrame:
    """Per-query recall of the multi-table LSH top-k against the exact brute
    top-k: (query_id, n_hits, recall) — the deterministic companion that
    makes the approximate operator gate-able (an approximate result set
    can't hash-match an oracle, but its recall against the exact answer is
    itself an exact, recomputable number).  One left join of the brute top-k
    onto the LSH top-k, then a per-query count."""
    lsh = lsh_cosine_topk(embeddings, dim, n_queries, k, id_col, vec_col, bits, tables)
    brute = cosine_topk(embeddings, n_queries, k, id_col, vec_col)
    hit = lsh.select("query_id", id_col).withColumn("_hit", F.lit(1))
    j = brute.select("query_id", id_col).join(hit, ["query_id", id_col], "left")
    return (
        j.groupBy("query_id")
        .agg(F.coalesce(F.sum("_hit"), F.lit(0)).cast("int").alias("n_hits"))
        .withColumn("recall", F.round(F.col("n_hits") / F.lit(float(k)), 9))
    )


def lsh_recall_local(
    M: np.ndarray,
    ids: np.ndarray,
    n_queries: int = 8,
    k: int = 5,
    bits: int = LSH_BITS,
    tables: int = LSH_TABLES,
) -> list[tuple[int, int, float]]:
    """Single-process recompute of ``lsh_recall`` for the golden-VALUES
    oracle (the same trust model as the encode goldens in
    __spark_entry__.py): identical hyperplanes, identical multi-probe
    candidate rule (any table within Hamming distance 1), and the
    strict-left-fold cosine so ranking floats match the distributed
    aggregate(zip_with) fold bit for bit."""
    order = np.argsort(ids)
    ids = np.asarray(ids)[order]
    M = np.asarray(M, dtype=np.float64)[order]
    planes = _hyperplanes(M.shape[1], bits, tables)
    weights = (1 << np.arange(bits)).astype(np.int64)
    sig = np.empty((len(M), tables), dtype=np.int32)
    for t in range(tables):
        sig[:, t] = ((M @ planes[t].T > 0) @ weights).astype(np.int32)
    pop = np.array([bin(x).count("1") for x in range(1 << bits)], dtype=np.int8)

    def topk_ids(qi: int, rows: np.ndarray) -> set:
        if not len(rows):
            return set()
        sims = _fold_cosine(np.broadcast_to(M[qi], (len(rows), M.shape[1])), M[rows])
        o = np.lexsort((ids[rows], -sims))  # sim desc, id asc — row_number order
        return set(ids[rows][o[:k]].tolist())

    out: list[tuple[int, int, float]] = []
    for qi in np.flatnonzero(ids < n_queries):
        others = np.flatnonzero(ids != ids[qi])
        brute = topk_ids(qi, others)
        ham = pop[(sig[others] ^ sig[qi][None, :]) & ((1 << bits) - 1)]
        lsh = topk_ids(qi, others[ham.min(axis=1) <= 1])
        n_hits = len(brute & lsh)
        out.append((int(ids[qi]), n_hits, round(n_hits / k, 9)))
    return out


def ivf_cosine_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: vectors partition into
    ``n_lists`` centroid cells (deterministic centroids = lowest ids, one
    bounded collect), each query probes its ``n_probe`` nearest cells, and
    candidates re-rank by exact cosine.  The classic coarse-quantizer ANN:
    candidate volume ~ n_probe/n_lists of the corpus, one equi-join on the
    cell id (broadcast query side), no shuffle of the embedding table.
    Recall vs brute force is pinned in pytest (recall@k rises with
    n_probe -> n_lists = exact)."""
    cents = (
        embeddings.orderBy(F.col(id_col).asc()).limit(n_lists).select(id_col, vec_col).collect()
    )
    C = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in cents])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    @pandas_udf(IntegerType())
    def assign_cell(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        return pd.Series(np.argmax(Mn @ Cn.T, axis=1).astype(np.int32))

    @pandas_udf(ArrayType(IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Cn.T
        order = np.argsort(-S, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(order))

    data = embeddings.withColumn("_cell", assign_cell(F.col(vec_col)))
    q = (
        embeddings.filter(F.col(id_col) < n_queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qvec"),
            F.explode(probe_cells(F.col(vec_col))).alias("_cell"),
        )
    )
    cand = data.join(F.broadcast(q), "_cell").filter(F.col(id_col) != F.col("query_id"))
    sim = F.expr(cosine_expr("qvec", vec_col))
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", F.round("_sim", 9).alias("sim"))
    )


def embedding_neardup_brute(
    embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs with cosine >= threshold (id_a < id_b) — the row-cartesian
    brute force, kept ONLY as the small-n correctness oracle for
    ``embedding_neardup`` (pytest cross-check); never the scale path."""
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    sim = F.expr(cosine_expr("va", "vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("_sim", sim)
        .filter(F.col("_sim") >= threshold)
        .select("id_a", "id_b", F.round("_sim", 9).alias("sim"))
    )


def embedding_neardup(
    embeddings: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    n_rows: int | None = None,
    rows_per_task: int = 100_000,
) -> DataFrame:
    """EXACT near-duplicate pairs (cosine >= threshold, id_a < id_b) as a
    centroid-blocked similarity join — recall 1.0 by construction, unlike
    sign-bit LSH (whose per-pair collision probability at a loose threshold
    like 0.4 can never reach the driver's exact-match gate).

    Plan (the distributed ball-partition join; same pruning idea as the
    reference's cell-based closest-point pruning, S2PolygonBuilder.java:629+):

    1. pick ``n_blocks`` deterministic centroids (lowest ids — one tiny
       ``limit`` collect, bounded at any scale);
    2. one Arrow-batched matmul assigns every vector to its nearest centroid
       and records the angle to it (no shuffle);
    3. per-block max angle (radius) is a C-row aggregate; block pair (i, j)
       survives only if ``angle(ci, cj) <= r_i + r_j + theta`` — the angular
       triangle inequality, so no qualifying pair can span a pruned block
       pair (exactness);  on clustered corpora this kills almost all of the
       C^2 pairs, on adversarially uniform data it degrades to all block
       pairs — still each handled as ONE matmul, not a row cartesian;
    4. points replicate once per surviving partner block (broadcast join of
       the tiny pair list), one shuffle groups each block pair, and
       applyInPandas does the block-pair matmul; candidates within 1e-6 of
       the threshold are re-scored with the exact sequential fold (identical
       operation order to Spark's aggregate(zip_with) and DuckDB's
       list_dot_product) so results are BIT-IDENTICAL to the brute path.

    Scale: each task holds two blocks of vectors, so block width is the
    OOM knob.  ``n_blocks`` is DERIVED from the ``n_rows`` corpus-size hint
    (ceil(n_rows / rows_per_task), clamped to [16, 4096]) unless given
    explicitly; without either, the 16-block default only fits small
    corpora — pass the hint at scale (same contract as
    ``pip_join(n_rows=...)``).  Centroid blocking follows DATA density, so
    a clustered corpus can still concentrate rows in one block: every
    block wider than ``rows_per_task`` is SALTED into ceil(n_i /
    rows_per_task) sub-blocks by id hash, and the pair list is expanded to
    every sub-block combination of each surviving block pair — each id
    lives in exactly one (block, salt), so every qualifying pair is still
    examined exactly once (exactness preserved; the triangle-inequality
    prune stays at original-block granularity).  The per-block counts ride
    the same C-row aggregate as the radii — no extra job.
    """
    import math

    theta = math.acos(max(-1.0, min(1.0, threshold)))
    if n_blocks is None:
        if n_rows is None:
            n_blocks = 16
        else:
            n_blocks = int(min(4096, max(16, math.ceil(n_rows / rows_per_task))))

    cents = (
        embeddings.orderBy(F.col(id_col).asc())
        .limit(n_blocks)
        .select(id_col, vec_col)
        .collect()
    )
    n_blocks = min(n_blocks, len(cents))  # corpus smaller than the ask
    C = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in cents])
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)

    from pyspark.sql.types import DoubleType, StructField, StructType

    @pandas_udf("struct<block:int,ang:double>")
    def assign(vecs: pd.Series) -> pd.DataFrame:
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
        S = Mn @ Cn.T
        blk = np.argmax(S, axis=1)
        ang = np.arccos(np.clip(S[np.arange(len(M)), blk], -1.0, 1.0))
        return pd.DataFrame({"block": blk.astype(np.int32), "ang": ang})

    pts = embeddings.select(id_col, vec_col, assign(F.col(vec_col)).alias("a")).select(
        id_col, vec_col, F.col("a.block").alias("block"), F.col("a.ang").alias("ang")
    )
    # radii AND counts in one C-row aggregate: radii drive the triangle
    # prune, counts drive per-block salting of oversized blocks
    radii_rows = (
        pts.groupBy("block")
        .agg(F.max("ang").alias("r"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    radii = np.zeros(n_blocks)
    salts = np.ones(n_blocks, dtype=np.int64)
    for r in radii_rows:
        radii[r["block"]] = r["r"]
        salts[r["block"]] = max(1, -(-int(r["n"]) // rows_per_task))

    cang = np.arccos(np.clip(Cn @ Cn.T, -1.0, 1.0))
    # sub-block pair list: each surviving ORIGINAL pair (i, j) expands to
    # all (salt_u, salt_v) combos — u <= v when i == j so a same-block
    # sub-pair is visited once
    pair_rows = []
    for i in range(n_blocks):
        for j in range(i, n_blocks):
            if cang[i, j] <= radii[i] + radii[j] + theta:
                for u in range(int(salts[i])):
                    for v in range(u if i == j else 0, int(salts[j])):
                        pair_rows.append((i, u, j, v))
    spark = embeddings.sparkSession
    pairs = local_frame(spark, pair_rows, "ba int, sa int, bb int, sb int")

    salt_arr = F.array(*[F.lit(int(s)) for s in salts])
    pts = pts.withColumn(
        "salt",
        F.pmod(F.hash(F.col(id_col)), F.element_at(salt_arr, F.col("block") + 1)).cast(
            "int"
        ),
    )
    left = pts.join(
        F.broadcast(pairs),
        (F.col("block") == F.col("ba")) & (F.col("salt") == F.col("sa")),
    ).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        "ba", "sa", "bb", "sb", F.lit(0).alias("side"),
    )
    right = pts.join(
        F.broadcast(
            pairs.filter((F.col("ba") != F.col("bb")) | (F.col("sa") != F.col("sb")))
        ),
        (F.col("block") == F.col("bb")) & (F.col("salt") == F.col("sb")),
    ).select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        "ba", "sa", "bb", "sb", F.lit(1).alias("side"),
    )
    rep = left.unionByName(right)

    out_schema = StructType(
        [
            StructField("id_a", left.schema["_id"].dataType),
            StructField("id_b", left.schema["_id"].dataType),
            StructField("_sim", DoubleType()),
        ]
    )

    def _empty():
        return pd.DataFrame(
            {
                "id_a": np.array([], dtype=np.int64),
                "id_b": np.array([], dtype=np.int64),
                "_sim": np.array([], dtype=np.float64),
            }
        )

    def block_pair(key, pdf):
        # key = (ba, sa, bb, sb); a SELF comparison is the same sub-block
        is_self = key[0] == key[2] and key[1] == key[3]
        a_pdf = pdf[pdf["side"] == 0]
        if not len(a_pdf):
            return _empty()
        ids_a = a_pdf["_id"].to_numpy()
        A = np.stack(a_pdf["_v"].to_numpy()).astype(np.float64)
        An = A / np.linalg.norm(A, axis=1, keepdims=True)
        if is_self:
            ids_b, B, Bn = ids_a, A, An
        else:
            b_pdf = pdf[pdf["side"] == 1]
            if not len(b_pdf):
                return _empty()
            ids_b = b_pdf["_id"].to_numpy()
            B = np.stack(b_pdf["_v"].to_numpy()).astype(np.float64)
            Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
        S = An @ Bn.T
        ii, jj = np.nonzero(S >= threshold - 1e-6)
        if is_self:
            keep = ids_a[ii] < ids_b[jj]
            ii, jj = ii[keep], jj[keep]
        if not len(ii):
            return _empty()
        sim = _fold_cosine(A[ii], B[jj])
        ia, ib = ids_a[ii], ids_b[jj]
        swap = ia > ib
        out = pd.DataFrame(
            {
                "id_a": np.where(swap, ib, ia),
                "id_b": np.where(swap, ia, ib),
                "_sim": sim,
            }
        )
        return out[out["_sim"] >= threshold]

    res = rep.groupBy("ba", "sa", "bb", "sb").applyInPandas(block_pair, out_schema)
    return res.select("id_a", "id_b", F.round("_sim", 9).alias("sim"))


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-corpus ANN scale path
# ---------------------------------------------------------------------------

PQ_SEED = 20260821
PQ_M = 8  # subspaces (dim 64 -> 8 dims each)
PQ_KSUB = 16  # codewords per subspace -> 4 bits/code, 8 B/vector vs 256 B raw


def _unit_rows(M: np.ndarray) -> np.ndarray:
    """L2-normalize rows; an all-zero row stays all-zero instead of going
    NaN (0/0) — one bad embedding must only affect its own row, never
    poison a trained codebook or a whole Arrow batch."""
    n = np.linalg.norm(M, axis=1, keepdims=True)
    return M / np.where(n == 0.0, 1.0, n)


def _collect_queries(
    embeddings: DataFrame, n_queries: int, id_col: str, vec_col: str
) -> tuple[np.ndarray, np.ndarray, list]:
    """ONE bounded collect of the query rows, id order: (ids, unit-vector
    matrix for LUT/probe math, raw vectors for the exact re-rank side)."""
    qrows = (
        embeddings.filter(F.col(id_col) < n_queries)
        .orderBy(F.col(id_col).asc())
        .select(id_col, vec_col)
        .collect()
    )
    qids = np.asarray([r[id_col] for r in qrows], dtype=np.int64)
    raw = [r[vec_col] for r in qrows]
    Q = np.stack([np.asarray(v, dtype=np.float64) for v in raw])
    return qids, _unit_rows(Q), raw


def _qdf_from_collected(sess, qids: np.ndarray, Q_raw: list, id_col: str):
    """(query_id, qvec) frame rebuilt from the ALREADY-collected query rows
    — no second corpus scan just to recover 8 rows.  qvec arrives as
    array<double>; ``cosine_expr`` casts elements to double on both sides,
    so the re-rank arithmetic is bit-identical to joining the raw column."""
    rows = [(int(qid), [float(x) for x in vec]) for qid, vec in zip(qids, Q_raw)]
    return local_frame(sess, rows, "query_id long, qvec array<double>")


def _exact_rerank(
    cand: DataFrame, embeddings: DataFrame, qdf: DataFrame, k: int, id_col: str, vec_col: str
) -> DataFrame:
    """Shared exact tail of every two-stage ANN path here: join the
    candidate (query_id, id) pairs back to the raw vectors, score with the
    fold-exact cosine, rank per query (ties id-asc — the brute/oracle
    order), keep top k."""
    rer = (
        cand.select("query_id", id_col)
        .join(embeddings.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_id")
    )
    sim = F.expr(cosine_expr("qvec", vec_col))
    w = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col(id_col).asc())
    return (
        rer.withColumn("_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "rank", F.round("_sim", 9).alias("sim"))
    )


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    sample_n: int = 2048,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic per-subspace Lloyd k-means over a bounded id-ordered
    sample (ONE collect, <= sample_n rows — same bounded-dimension-collect
    contract as the IVF centroid train above).  Vectors are L2-normalized
    first so squared-L2 codeword distance orders like cosine (zero-norm
    rows stay zero, see _unit_rows).  Init is the first ksub sample rows
    per subspace (no RNG in the train loop — bit-reproducible across runs
    and cluster sizes); an emptied cluster keeps its previous centroid.
    Returns codebooks of shape (m, ksub, dim//m)."""
    rows = embeddings.orderBy(F.col(id_col).asc()).limit(sample_n).select(vec_col).collect()
    X = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    if len(X) < ksub:
        raise ValueError(
            f"ksub={ksub} exceeds the {len(X)} sampled training rows; "
            f"lower ksub or raise sample_n"
        )
    Xn = _unit_rows(X)
    dim = Xn.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, ksub, dsub))
    for j in range(m):
        sub = Xn[:, j * dsub : (j + 1) * dsub]
        C = sub[:ksub].copy()
        for _ in range(10):  # Lloyd iterations
            D = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            a = np.argmin(D, axis=1)  # ties -> lowest code, deterministic
            for c in range(ksub):
                mask = a == c
                if mask.any():
                    C[c] = sub[mask].mean(axis=0)
        books[j] = C
    return books


def pq_encode(
    embeddings: DataFrame, codebooks: np.ndarray, vec_col: str = "embedding"
) -> DataFrame:
    """Add ``pq_codes`` (array<int>, length m, values in [0, ksub)): each
    vector L2-normalizes and each subspace snaps to its nearest codeword —
    one vectorized distance matmul per (subspace, Arrow batch).  At 100 TB
    this column IS the scan side: m small ints per row (bit-packable to
    m*log2(ksub) bits via pq_pack_expr) instead of dim floats, so the ADC
    pass reads ~32x less than a raw-vector scan."""
    m, ksub, dsub = codebooks.shape

    @pandas_udf(ArrayType(IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        Mn = _unit_rows(np.stack(vecs.to_numpy()).astype(np.float64))
        out = np.empty((len(Mn), m), dtype=np.int32)
        for j in range(m):
            sub = Mn[:, j * dsub : (j + 1) * dsub]
            # ||s-c||^2 = ||s||^2 - 2 s.c + ||c||^2; argmin over c drops ||s||^2
            D = -2.0 * (sub @ codebooks[j].T) + (codebooks[j] ** 2).sum(axis=1)
            out[:, j] = np.argmin(D, axis=1)
        return pd.Series(list(out))

    return embeddings.withColumn("pq_codes", encode(F.col(vec_col)))


def _pq_lut(Qn: np.ndarray, books: np.ndarray) -> np.ndarray:
    """LUT[qi, j, c] = <query subvector, codeword> — ADC similarity is
    sum_j LUT[qi, j, codes[j]] (m table adds per row, no float dot)."""
    nq, dim = Qn.shape
    return np.einsum("qjd,jkd->qjk", Qn.reshape(nq, PQ_M, dim // PQ_M), books)


def pq_cosine_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int | None = None,
) -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k with exact re-rank — the
    FAISS-style compressed-corpus ANN: train codebooks (bounded collect),
    encode the corpus to m-byte codes, scan codes against per-query lookup
    tables, take the per-query ADC ``shortlist``, then re-rank ONLY the
    shortlist by exact cosine against the raw vectors (a small join back
    on id).  shortlist=None keeps every candidate, making the result
    EXACT (= ``cosine_topk`` / the brute DuckDB oracle) while still
    executing the full ADC plan — the driver gate covers the plan shape,
    pytest pins the approximate regime's recall-vs-shortlist curve.

    Scale shape: the corpus never shuffles — the ADC pass is one narrow
    projection (id, codes) with the LUTs closed over (nq*m*ksub doubles),
    the shortlist (nq*shortlist rows) broadcasts back for the re-rank join,
    and ranking windows partition by query_id (nq-way, trivially balanced)."""
    books = pq_train_codebooks(embeddings, id_col=id_col, vec_col=vec_col)
    qids, Qn, qraw = _collect_queries(embeddings, n_queries, id_col, vec_col)
    nq = len(qids)
    lut = _pq_lut(Qn, books)

    from pyspark.sql.types import DoubleType

    @pandas_udf(ArrayType(DoubleType()))
    def adc(codes: pd.Series) -> pd.Series:
        C = np.stack(codes.to_numpy()).astype(np.int64)  # (n, PQ_M)
        S = np.zeros((len(C), nq))
        for j in range(PQ_M):
            S += lut[:, j, :][:, C[:, j]].T
        return pd.Series(list(S))

    codes_df = pq_encode(embeddings, books, vec_col=vec_col).select(id_col, "pq_codes")
    pairs = codes_df.select(
        id_col, F.posexplode(adc(F.col("pq_codes"))).alias("_qpos", "_approx")
    )
    sess = embeddings.sparkSession
    qmap = local_frame(
        sess, [(int(i), int(qid)) for i, qid in enumerate(qids)], "_qpos int, query_id long"
    )
    pairs = pairs.join(F.broadcast(qmap), "_qpos").filter(F.col(id_col) != F.col("query_id"))
    if shortlist is not None:
        ws = Window.partitionBy("query_id").orderBy(
            F.col("_approx").desc(), F.col(id_col).asc()
        )
        pairs = pairs.withColumn("_srank", F.row_number().over(ws)).filter(
            F.col("_srank") <= shortlist
        )
    qdf = _qdf_from_collected(sess, qids, qraw, id_col)
    return _exact_rerank(pairs, embeddings, qdf, k, id_col, vec_col)


def ivfpq_cosine_topk(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    shortlist: int | None = None,
) -> DataFrame:
    """IVF-PQ — the composition of the two quantizers above and the
    billion-scale ANN workhorse shape: the IVF coarse cells prune WHICH
    rows are candidates (each query probes its n_probe nearest cells, so
    ~n_probe/n_lists of the corpus joins at all), PQ ADC prunes HOW MUCH
    is read per candidate (m code lookups against the per-query LUT, not a
    dim-float dot), and only the per-query ADC ``shortlist`` re-ranks by
    exact cosine.  At n_probe == n_lists and shortlist=None every row
    survives both pruners, so the result is EXACT (= the brute oracle);
    pytest pins the approximate regime.

    Scale shape: candidate volume = (n_probe/n_lists) x corpus rows of
    (id, codes) — the only corpus-sized structure, never shuffled (the
    probe side broadcasts); shortlist re-rank and final top-k are nq-way
    windows."""
    cents = (
        embeddings.orderBy(F.col(id_col).asc()).limit(n_lists).select(id_col, vec_col).collect()
    )
    Cn = _unit_rows(np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in cents]))
    books = pq_train_codebooks(embeddings, id_col=id_col, vec_col=vec_col)
    qids, Qn, qraw = _collect_queries(embeddings, n_queries, id_col, vec_col)
    lut = _pq_lut(Qn, books)
    qpos_of = {int(qid): i for i, qid in enumerate(qids)}

    @pandas_udf(IntegerType())
    def assign_cell(vecs: pd.Series) -> pd.Series:
        Mn = _unit_rows(np.stack(vecs.to_numpy()).astype(np.float64))
        return pd.Series(np.argmax(Mn @ Cn.T, axis=1).astype(np.int32))

    from pyspark.sql.types import DoubleType, LongType

    @pandas_udf(DoubleType())
    def adc_pair(codes: pd.Series, qpos: pd.Series) -> pd.Series:
        Cd = np.stack(codes.to_numpy()).astype(np.int64)  # (n, PQ_M)
        qp = qpos.to_numpy().astype(np.int64)
        s = np.zeros(len(Cd))
        for j in range(PQ_M):
            s += lut[qp, j, Cd[:, j]]
        return pd.Series(s)

    @pandas_udf(LongType())
    def to_qpos(qid: pd.Series) -> pd.Series:
        return qid.map(qpos_of).astype("int64")

    # query side: probe list per query, broadcast (nq * n_probe rows)
    probes = np.argsort(-(Qn @ Cn.T), axis=1)[:, :n_probe]
    sess = embeddings.sparkSession
    probe_df = local_frame(
        sess,
        [(int(qid), int(c)) for qi, qid in enumerate(qids) for c in probes[qi]],
        "query_id long, _cell int",
    )
    data = pq_encode(embeddings, books, vec_col=vec_col).select(
        id_col, "pq_codes", assign_cell(F.col(vec_col)).alias("_cell")
    )
    cand = data.join(F.broadcast(probe_df), "_cell").filter(F.col(id_col) != F.col("query_id"))
    cand = cand.withColumn("_approx", adc_pair(F.col("pq_codes"), to_qpos(F.col("query_id"))))
    if shortlist is not None:
        ws = Window.partitionBy("query_id").orderBy(
            F.col("_approx").desc(), F.col(id_col).asc()
        )
        cand = cand.withColumn("_srank", F.row_number().over(ws)).filter(
            F.col("_srank") <= shortlist
        )
    qdf = _qdf_from_collected(sess, qids, qraw, id_col)
    return _exact_rerank(cand, embeddings, qdf, k, id_col, vec_col)


def pq_pack_expr(codes_col: str = "pq_codes", m: int = PQ_M, ksub: int = PQ_KSUB) -> str:
    """Native SQL packing the m codes into ONE BIGINT (m * log2(ksub) bits
    must fit 63): the storage-real form of the PQ column — at m=8/ksub=16
    a vector's entire ADC footprint is 4 bytes of a single long, sortable,
    dictionary-friendly, and unpackable with two bit ops per code."""
    import math

    bits = int(math.ceil(math.log2(ksub)))
    if m * bits > 63:
        raise ValueError(f"m={m} x {bits} bits exceeds a signed BIGINT")
    terms = " + ".join(
        f"(cast(element_at({codes_col}, {j + 1}) as bigint) * {1 << (j * bits)})"
        for j in range(m)
    )
    return f"({terms})"


def pq_unpack_expr(packed_col: str = "pq_packed") -> str:
    """Native SQL inverse of ``pq_pack_expr``: array<int> of the PQ_M codes
    via shift+mask — the ADC scan can read the packed BIGINT column and
    unpack inside codegen, no Python touch.  Codes equal implies ADC
    equal (ADC is a pure function of the codes), so the round-trip gate in
    tests/test_ann_pq.py is the storage-losslessness proof."""
    import math

    bits = int(math.ceil(math.log2(PQ_KSUB)))
    mask = (1 << bits) - 1
    return (
        f"transform(sequence(0, {PQ_M - 1}), "
        f"j -> cast((shiftright({packed_col}, j * {bits}) & {mask}) as int))"
    )
