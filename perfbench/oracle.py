"""Output checks: a DuckDB oracle for per-polygon match totals, and the
manifest digest.

The oracle is independent of the engine's S2 machinery: it derives lat/lng
from phash with the same arithmetic as ``plans.pipeline.encode_images`` and
applies each layer's ``Layer.sql_predicate`` (the construction of the driver
contract's ``_pip_oracle``).  The digest pins the whole manifest, including
cell ids and tile tokens, against ``digests.json``, recorded by
``record_digests.py``.
"""

from __future__ import annotations

import hashlib
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "digests.json")

_LAT = "(-90.0 + 180.0 * (((phash >> 32) & 4294967295)::DOUBLE / 4294967296.0))"
_LNG = "(-180.0 + 360.0 * ((phash & 4294967295)::DOUBLE / 4294967296.0))"


def polygon_totals(input_dir: str, layers, threads: int) -> dict[str, int]:
    """Images per polygon, computed by DuckDB straight from the parquet."""
    arms = []
    for layer in layers:
        pred = layer.sql_predicate("lat", "lng")
        if pred is None:
            raise ValueError(f"layer {layer.polygon_id} has no SQL predicate")
        arms.append(f"SELECT '{layer.polygon_id}' AS polygon_id FROM pts WHERE {pred}")
    sql = (
        f"WITH pts AS (SELECT {_LAT} AS lat, {_LNG} AS lng "
        f"FROM read_parquet('{os.path.join(input_dir, '*.parquet')}')) "
        f"SELECT polygon_id, count(*) FROM ({' UNION ALL '.join(arms)}) t GROUP BY polygon_id"
    )
    con = connect(threads)
    try:
        return {pid: int(n) for pid, n in con.execute(sql).fetchall()}
    finally:
        con.close()


def connect(threads: int):
    """An in-memory DuckDB that never spills (so it writes no files) and
    prints no progress bar."""
    import duckdb

    con = duckdb.connect(config={"threads": threads, "memory_limit": "1GB", "temp_directory": ""})
    con.execute("SET enable_progress_bar = false")
    return con


def cached_totals(input_dir: str, layers, threads: int) -> dict[str, int]:
    """``polygon_totals``, stored next to the input it was computed from."""
    path = os.path.join(input_dir, "_oracle_totals.json")
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    totals = polygon_totals(input_dir, layers, threads)
    with open(path, "w") as fh:
        json.dump(totals, fh)
    return totals


def manifest_digest(rows) -> str:
    """sha256 over the manifest rows in (tile_token, polygon_id) order."""
    h = hashlib.sha256()
    for r in sorted(rows, key=lambda r: (r["tile_token"], r["polygon_id"])):
        h.update(
            f"{r['tile_token']},{r['polygon_id']},{r['n_images']},{r['min_cell']},{r['max_cell']}\n".encode()
        )
    return h.hexdigest()


def manifest_totals(rows) -> dict[str, int]:
    out: dict[str, int] = {}
    for r in rows:
        out[r["polygon_id"]] = out.get(r["polygon_id"], 0) + int(r["n_images"])
    return out


def recorded_digest(workload: str, seed: int, n_rows: int) -> str | None:
    if not os.path.exists(DIGESTS_PATH):
        return None
    with open(DIGESTS_PATH) as fh:
        return json.load(fh).get(f"{workload}/{n_rows}/{seed}")


class ManifestCheck:
    """Checks every manifest of one (workload, seed) against the oracle
    totals, the recorded digest, and the first manifest of the run."""

    def __init__(self, totals: dict[str, int], recorded: str | None):
        self.totals = totals
        self.recorded = recorded
        self.first: str | None = None

    def __call__(self, rows) -> str | None:
        """Return None if ``rows`` pass, else a one-line reason."""
        got = manifest_totals(rows)
        if got != self.totals:
            return f"per-polygon totals {got} != oracle {self.totals}"
        digest = manifest_digest(rows)
        if self.recorded is not None and digest != self.recorded:
            return f"manifest digest {digest[:12]} != recorded {self.recorded[:12]}"
        if self.first is None:
            self.first = digest
        elif digest != self.first:
            return f"manifest digest {digest[:12]} differs from this run's first {self.first[:12]}"
        return None
