"""Caption-extracted region candidates validated by anchor containment.

The north-star pipeline geotags each image TWO ways (BASELINE.json
north_star: "geotagged via phash-derived anchor points and
caption-extracted regions"): the phash anchor is the point leg
(plans/pipeline.encode_images); this module is the caption leg.

1. **Parse** region mentions out of the caption natively — ``split`` +
   ``slice`` + ``posexplode``, zero Python, stays in WholeStageCodegen.
2. **Resolve** mention words through a word→layer gazetteer: small
   gazetteers fold into the plan as a literal-map lookup (zero join);
   real ones (10^5+ place names) take a broadcast hash join.  Unmapped
   words drop out either way, so vocabulary noise costs nothing
   downstream.
3. **Validate** each (image, layer) candidate by testing the image's
   anchor point against the layer's real geometry via
   ``pip_join.membership_expr`` — the same single-pass predicate the
   spatial join's refinement uses (native interval/chord CASE chain for
   rect/cap layers, the S2Loop edge-crossing parity kernel for
   loop/polygon layers, S2Loop.java:624-654).

Plan shape at 10^12 fact rows: the parse is a narrow projection, the
gazetteer join is a broadcast hash join, and the containment flag is a
per-row predicate — the row-level output is completely shuffle-free;
only the optional per-layer rollup (`caption_region_counts`) aggregates,
and that shuffles |layers|x2 tiny partial rows per task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.operators.layers import Layer
from s2_geometry_library_java_spark.operators.pip_join import membership_expr
from s2_geometry_library_java_spark.session import local_frame

# Caption grammar of the synthetic corpus (sources/images.caption_for):
#   "caption <10-digit id> <word_a> <word_b>"
# mention words occupy 1-based token slots [3, 4) and draw from this
# 10-word vocabulary (kept in sync with sources/images._WORDS by a pytest).
CAPTION_VOCAB = (
    "tile", "polygon", "sphere", "cell", "hilbert",
    "face", "cover", "join", "index", "anchor",
)
MENTION_FIRST_TOKEN = 3
MENTION_N_TOKENS = 2

# Gazetteers at or under this size inline into the plan as a literal map
# (zero join); larger ones take the broadcast hash join path.
INLINE_GAZETTEER_MAX = 64


def extract_mentions(
    images: DataFrame,
    caption_col: str = "caption",
    carry_cols: tuple[str, ...] = ("image_id",),
) -> DataFrame:
    """Native caption parse → one row per mention: carry_cols + (slot, word).

    ``slot`` is the 0-based mention position within the caption so a
    downstream consumer can distinguish primary from secondary mentions.
    """
    toks = F.split(F.col(caption_col), " ")
    mention = F.slice(toks, MENTION_FIRST_TOKEN, MENTION_N_TOKENS)
    return images.select(
        *[F.col(c) for c in carry_cols], F.posexplode(mention).alias("slot", "word")
    )


def gazetteer_df(spark, word_to_layer: dict[str, str]) -> DataFrame:
    """The word→polygon_id dimension as a (broadcastable) DataFrame."""
    return local_frame(spark, sorted(word_to_layer.items()), "word string, polygon_id string")


def caption_region_join(
    images: DataFrame,
    layers: list[Layer],
    word_to_layer: dict[str, str],
    caption_col: str = "caption",
    id_col: str = "image_id",
    lat_col: str = "lat",
    lng_col: str = "lng",
) -> DataFrame:
    """(image, caption-mentioned layer, anchor-inside?) rows.

    ``images`` must carry the anchor point columns (lat_col, lng_col) —
    pure native projections of phash in the pipeline, so Catalyst only
    computes them here, on mention rows.  Output columns: id_col, slot,
    word, polygon_id, inside.
    """
    known = {l.polygon_id for l in layers}
    unknown = set(word_to_layer.values()) - known
    if unknown:
        raise ValueError(f"gazetteer names layers not provided: {sorted(unknown)}")
    mentions = extract_mentions(
        images, caption_col=caption_col, carry_cols=(id_col, lat_col, lng_col)
    )
    if len(word_to_layer) <= INLINE_GAZETTEER_MAX:
        # tiny gazetteer: fold it into the plan as a literal map lookup —
        # no broadcast build side, no per-row probe hashing (measured ~1.2s
        # of the 8M-image leg was the string-keyed BHJ this replaces)
        mapping = F.create_map(
            *[F.lit(x) for kv in sorted(word_to_layer.items()) for x in kv]
        )
        cand = mentions.withColumn("polygon_id", mapping[F.col("word")]).filter(
            F.col("polygon_id").isNotNull()
        )
    else:
        # real gazetteers (10^5+ place names) broadcast-hash-join instead
        dim = gazetteer_df(images.sparkSession, word_to_layer)
        cand = mentions.join(F.broadcast(dim), "word")
    # restrict the CASE/parity chain to layers the gazetteer can produce
    used = [l for l in layers if l.polygon_id in set(word_to_layer.values())]
    native = [l for l in used if l.native]
    kernel = [l for l in used if not l.native]
    cols = [id_col, "slot", "word", "polygon_id"]
    if not kernel or not native:
        inside = membership_expr(used, lat_col=lat_col, lng_col=lng_col)
        return cand.select(*cols, inside.alias("inside"))
    # Mixed layer kinds: split on ``Layer.native`` so ONLY kernel-layer mention
    # rows ride the Arrow parity hop — a single fused expression would ship
    # every row through Python just to ignore most of them (measured 3.4s ->
    # the dominant cost at 8M images x 2 mentions).  The two arms re-scan
    # the (cheap, column-pruned) fact columns; at web scale two narrow scans
    # beat one full-fact Arrow transfer by the kernel-mention fraction.
    kset = [l.polygon_id for l in kernel]
    nat_arm = cand.filter(~F.col("polygon_id").isin(kset)).select(
        *cols, membership_expr(native, lat_col, lng_col).alias("inside")
    )
    ker_arm = cand.filter(F.col("polygon_id").isin(kset)).select(
        *cols, membership_expr(kernel, lat_col, lng_col).alias("inside")
    )
    return nat_arm.unionByName(ker_arm)


def caption_region_counts(
    matches: DataFrame, id_col: str = "image_id"
) -> DataFrame:
    """Per (layer, slot) rollup: mention volume and anchor-agreement rate.

    `n_inside / n_mentions` is the caption↔anchor agreement signal a
    training-data pipeline uses to score geotag quality per region.
    """
    return matches.groupBy("polygon_id", "slot").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum(F.col("inside").cast("long")).alias("n_inside"),
    )
