"""Tiling & manifests: covering-join matches -> raster tiles, with
per-partition lineage and checkpointed, idempotent resume.

- tile assignment is the C5 denormalize bit formula (S2CellId.parent,
  S2CellId.java:334-338) as a native column expression — fixed-level tile id
  straight from the leaf cell id, no Python, no shuffle — and the tile token
  is the codegen'd ``token_sql`` (S2CellId.toToken), so tiles, the manifest
  aggregate and its ordering run without a Python hop;
- the manifest writer partitions output by a tile bucket and commits buckets
  through a ledger file, so a killed job resumes at the last committed bucket
  — the plain-parquet analog of Iceberg snapshot-commit resume demanded by
  the north rule.  Each manifest row carries lineage: bucket, spark partition
  id, and the job id that wrote it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from s2_geometry_library_java_spark.functions.native import col_ref, parent_sql, token_sql

DEFAULT_TILE_LEVEL = 7


def assign_tiles(df: DataFrame, tile_level: int = DEFAULT_TILE_LEVEL, cell_col: str = "cell_id") -> DataFrame:
    tile = parent_sql(col_ref(cell_col), tile_level)
    return df.withColumn("tile_id", F.expr(tile)).withColumn("tile_token", F.expr(token_sql(tile)))


def tile_manifest(matches: DataFrame, tile_level: int = DEFAULT_TILE_LEVEL, cell_col: str = "cell_id") -> DataFrame:
    """Per-(tile, polygon) manifest aggregate: image count + id range.

    Pure codegen end to end: groupBy on the native tile expression (Catalyst
    does partial+final aggregation), then the native token and the sort —
    sorting by tile keeps Hilbert locality in the output files.
    """
    tile = F.expr(parent_sql(col_ref(cell_col), tile_level))
    # Aggregate on the BIGINT tile id first and tokenize only the aggregated
    # rows (tiles x polygons): string building stays off the fact path.
    return (
        matches.withColumn("tile_id", tile)
        .groupBy("tile_id", "polygon_id")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min(cell_col).alias("min_cell"),
            F.max(cell_col).alias("max_cell"),
        )
        .withColumn("tile_token", F.expr(token_sql("tile_id")))
        .drop("tile_id")
        .select("tile_token", "polygon_id", "n_images", "min_cell", "max_cell")
        .orderBy("tile_token", "polygon_id")
    )


# ---------------------------------------------------------------------------
# Checkpointed resumable write
# ---------------------------------------------------------------------------
def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, "_ledger.json")


def read_ledger(out_dir: str) -> dict:
    path = _ledger_path(out_dir)
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    return {"committed": [], "job_ids": {}}


def _commit_bucket(out_dir: str, bucket: int, job_id: str) -> None:
    ledger = read_ledger(out_dir)
    if bucket not in ledger["committed"]:
        ledger["committed"].append(bucket)
    ledger["job_ids"][str(bucket)] = job_id
    tmp = _ledger_path(out_dir) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(ledger, fh)
    os.replace(tmp, _ledger_path(out_dir))  # atomic commit point


def run_tiled_write(
    df: DataFrame,
    out_dir: str,
    tile_level: int = DEFAULT_TILE_LEVEL,
    cell_col: str = "cell_id",
    buckets: int = 8,
    job_id: str | None = None,
    fail_after: int | None = None,
) -> dict:
    """Write ``df`` partitioned into tile buckets with resume.

    Buckets are ``pmod(tile_id, buckets)``; each bucket directory is written
    in one Spark job and then committed to the ledger — rerunning after a
    kill skips committed buckets (idempotent).  ``fail_after`` injects a
    crash after N bucket commits (for the kill/resume test).
    """
    os.makedirs(out_dir, exist_ok=True)
    job_id = job_id or f"job-{int(time.time() * 1000)}"
    # Bucket on the hash of the tile id: a level-L tile id's low 2*(30-L)+1
    # bits are the fixed lsb pattern (S2CellId.java:334-338), so a plain
    # modulus would collapse every tile into one bucket.
    tiled = assign_tiles(df, tile_level, cell_col).withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("tile_id")), F.lit(buckets)).cast("int")
    )
    ledger = read_ledger(out_dir)
    written, skipped = [], []
    for b in range(buckets):
        if b in ledger["committed"]:
            skipped.append(b)
            continue
        part = tiled.filter(F.col("bucket") == b).withColumn(
            "lineage_part", F.spark_partition_id()
        ).withColumn("lineage_job", F.lit(job_id))
        # repartition by tile within the bucket: output files are
        # tile-contiguous (Hilbert locality -> parquet min/max pruning, O18).
        part.repartitionByRange(4, "tile_id").write.mode("overwrite").parquet(
            os.path.join(out_dir, f"bucket={b}")
        )
        _commit_bucket(out_dir, b, job_id)
        written.append(b)
        if fail_after is not None and len(written) >= fail_after:
            raise RuntimeError(f"injected failure after {fail_after} buckets")
    return {"job_id": job_id, "written": written, "skipped": skipped, "buckets": buckets}
