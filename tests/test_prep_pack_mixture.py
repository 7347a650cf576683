"""Gates for the round-5 training-prep additions: concatenate-and-slice
sequence packing (pack_concat_slices) and domain-mixture sampling
(temperature_fractions -> stratified_sample)."""

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators import prep
from s2_geometry_library_java_spark.sources.tables import load_table

CTX = 512


@pytest.fixture(scope="module")
def docs(spark, sf01_dir):
    return load_table(spark, sf01_dir, "documents").cache()


def test_pack_is_a_gapless_token_stream(spark, docs):
    """The packing must describe one contiguous global stream: sorting docs
    by (bucket, key), each document's global offset (start_seq*CTX +
    offset_in_seq) equals the running sum of preceding token counts — no
    gaps, no overlaps — and the derived fields are internally consistent."""
    rows = (
        prep.pack_concat_slices(docs, CTX, n_buckets=16)
        .orderBy("bucket", "doc_id")
        .collect()
    )
    acc = 0
    for r in rows:
        o = r["start_seq"] * CTX + r["offset_in_seq"]
        assert o == acc, f"doc {r['doc_id']}: offset {o} != running sum {acc}"
        assert r["end_seq"] == (o + r["n_tokens"] - 1) // CTX
        assert 0 <= r["offset_in_seq"] < CTX
        assert r["start_seq"] <= r["end_seq"]
        acc += r["n_tokens"]


def test_pack_sequences_fully_covered(spark, docs):
    """Every sequence id in [0, total_tokens // CTX) must be covered by at
    least one document's [start_seq, end_seq] range (the trainer's probe
    `start_seq <= s <= end_seq` never comes back empty)."""
    packed = prep.pack_concat_slices(docs, CTX, n_buckets=16).cache()
    total = packed.agg(F.sum("n_tokens")).first()[0]
    n_full = total // CTX
    covered = (
        packed.select(F.explode(F.sequence("start_seq", "end_seq")).alias("s"))
        .filter(F.col("s") < n_full)
        .distinct()
        .count()
    )
    assert covered == n_full


def test_pack_matches_shard_assignment_on_first_token(spark, docs):
    """start_seq at context_len C must equal shard_by_token_budget's shard
    at budget C (both are floor(first-token offset / C) over the same
    (bucket, key) order) — the two operators share one global-stream
    definition."""
    packed = {
        r["doc_id"]: r["start_seq"]
        for r in prep.pack_concat_slices(docs, CTX, n_buckets=16).collect()
    }
    shards = {
        r["doc_id"]: r["shard"]
        for r in prep.shard_by_token_budget(docs, CTX, n_buckets=16).collect()
    }
    assert packed == shards


def test_temperature_fractions_math():
    counts = {"big": 900, "mid": 90, "small": 10}
    nat = prep.temperature_fractions(counts, tau=1.0)
    assert nat == {"big": 1.0, "mid": 1.0, "small": 1.0}  # tau=1 keeps natural mix
    flat = prep.temperature_fractions(counts, tau=0.5, target_total=100)
    # sqrt weights: z = 30+~9.49+~3.16; small domains keep a larger share
    assert flat["big"] < flat["mid"] < flat["small"] <= 1.0
    capped = prep.temperature_fractions(counts, tau=0.5, target_total=500)
    assert capped["mid"] == capped["small"] == 1.0  # cap at keeping every row
    with pytest.raises(ValueError):
        prep.temperature_fractions(counts, tau=0.0)
    with pytest.raises(ValueError):
        prep.temperature_fractions(counts, tau=1.5)


def test_stratified_sample_composition(spark, docs):
    """End-to-end mixture: counts -> temperature fractions -> stratified
    filter.  Kept counts per domain must be within the hash-sampling noise
    of fraction*n, absent domains drop entirely, and the same call is
    bit-stable across runs."""
    counts = {r["source"]: r["count"] for r in docs.groupBy("source").count().collect()}
    fr = prep.temperature_fractions(counts, tau=0.5, target_total=300)
    out = prep.stratified_sample(docs, fr)
    kept = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    for d, f in fr.items():
        exp = f * counts[d]
        assert abs(kept.get(d, 0) - exp) <= max(6, 0.5 * exp), (d, kept.get(d, 0), exp)
    sub = prep.stratified_sample(docs, {"src3": 0.5})
    assert sub.filter(F.col("source") != "src3").count() == 0
    a = sorted(r["doc_id"] for r in sub.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in prep.stratified_sample(docs, {"src3": 0.5}).select("doc_id").collect())
    assert a == b and len(a) > 0


def test_materialize_sequences_exact_windows(spark, docs):
    """Every sequence except the last must hold exactly CTX tokens; the
    last holds the remainder; n_docs >= 1 everywhere; seq ids are the
    contiguous range [0, n_seqs)."""
    rows = prep.materialize_sequences(docs, CTX, n_buckets=16).orderBy("seq_id").collect()
    total = sum(r["n_tokens"] for r in rows)
    assert [r["seq_id"] for r in rows] == list(range(len(rows)))
    for r in rows[:-1]:
        assert r["n_tokens"] == CTX
        assert len(r["text"].split(" ")) == CTX
        assert r["n_docs"] >= 1
    assert rows[-1]["n_tokens"] == total - CTX * (len(rows) - 1)


def test_materialize_sequences_reconstructs_stream(spark, docs):
    """Concatenating the assembled sequences in seq_id order must equal
    concatenating the raw documents in the packing's (bucket, key) order —
    the materialization is a pure re-slicing, no token lost, duplicated,
    or reordered."""
    seqs = prep.materialize_sequences(docs, CTX, n_buckets=16).orderBy("seq_id").collect()
    stream = " ".join(r["text"] for r in seqs)
    order = (
        docs.select(
            "doc_id",
            "text",
            F.expr(prep.bucket_expr_sql("doc_id", 16)).alias("b"),
        )
        .orderBy("b", "doc_id")
        .collect()
    )
    direct = " ".join(r["text"] for r in order)
    assert stream == direct


def test_stratified_sample_escapes_quoted_domains(spark):
    """Domain names are data-derived; a single quote in one must not break
    (or inject into) the generated predicate in either dialect."""
    import duckdb

    rows = [(1, "o'reilly"), (2, "o'reilly"), (3, "plain")]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = prep.stratified_sample(df, {"o'reilly": 1.0}, key_col="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 2]
    pred = prep.stratified_case_sql({"o'reilly": 1.0}, key_col="doc_id")
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES (1, 'o''reilly'), (3, 'plain')) v(doc_id, source)")
        kept = con.execute(f"SELECT doc_id FROM t WHERE {pred}").fetchall()
    finally:
        con.close()
    assert [r[0] for r in kept] == [1]


def test_slice_ids_exact_past_2_pow_53(spark, monkeypatch):
    """Sequence and shard ids are integer division of the token offset: a
    double quotient rounds 2^53 + 1 down to 2^53 before dividing."""
    big = 2**53 + 1
    offsets = spark.createDataFrame(
        [(1, 0, 3, big), (2, 0, 5, big + 3)], "doc_id long, bucket int, n_tokens long, _o long"
    )
    monkeypatch.setattr(prep, "global_token_offsets", lambda *a, **k: offsets)
    c = 3
    packed = {r["doc_id"]: r for r in prep.pack_concat_slices(None, c).collect()}
    shards = {r["doc_id"]: r["shard"] for r in prep.shard_by_token_budget(None, c).collect()}
    for doc, o, n in ((1, big, 3), (2, big + 3, 5)):
        assert packed[doc]["start_seq"] == o // c == shards[doc]
        assert packed[doc]["end_seq"] == (o + n - 1) // c
        assert packed[doc]["offset_in_seq"] == o % c
