"""Seeded benchmark inputs, cached per seed outside timing and set-up.

- Replicas of the ten-table star schema come from
  ``scripts/gen_sf_replica.py`` with ``--seed``. The generator copies the
  fixed 5/25-row ``region``/``nation`` tables from a source directory; the
  benchmark writes those two tables itself (the TPC-H names) so that it
  reads nothing outside its checkout.
- Expected query results come from the registry's DuckDB oracle SQL over
  the same replica and are stored as parquet next to it.
- The ingest workload's versioned image table and its per-tick change
  batches are built with DuckDB (the ``images`` view text the oracle uses)
  and ``images.codec`` (the encoder ``images.ops.with_encoded_bytes``
  applies per row), so building them starts no JVM and leaves set-up time
  untouched.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

KEEP_SEEDS = 32  # cached seed directories kept per workload (a few MB each)


def _write_dims(path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), os.path.join(path, "region.parquet"))
    pq.write_table(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(path, "nation.parquet"))


def generate_replica(out: str, seed: int, mult: float, doc_mult: float,
                     emb_mult: float) -> dict[str, int]:
    """Run ``gen_sf_replica.main`` into ``out``; return row counts."""
    import gen_sf_replica

    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    dims = os.path.join(tmp, "_dims")
    _write_dims(dims)
    argv, src = sys.argv, gen_sf_replica.SRC
    sys.argv = ["gen_sf_replica.py", "--out", tmp, "--seed", str(seed),
                "--mult", str(mult), "--doc-mult", str(doc_mult),
                "--emb-mult", str(emb_mult)]
    gen_sf_replica.SRC = dims
    try:
        with contextlib.redirect_stdout(sys.stderr):
            gen_sf_replica.main()
    finally:
        sys.argv, gen_sf_replica.SRC = argv, src
    shutil.rmtree(dims)
    os.replace(tmp, out)
    return {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}


def duckdb_conn(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


class SeedCache:
    """``<root>/<workload>/seed-<n>/``: the replica, the oracle results and
    (ingest) the image table and tick batches for one seed. Built once,
    reused by later runs with the same seed; a ``meta.json`` written last
    marks a complete entry."""

    def __init__(self, root: str, workload: str, seed: int):
        self.base = os.path.join(root, workload)
        self.dir = os.path.join(self.base, f"seed-{seed}")

    @property
    def meta_path(self) -> str:
        return os.path.join(self.dir, "meta.json")

    def load(self) -> dict | None:
        try:
            with open(self.meta_path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def build(self, builder) -> dict:
        """Build the entry with ``builder(dir) -> meta`` unless present."""
        meta = self.load()
        if meta is not None:
            return meta
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        meta = builder(self.dir)
        with open(self.meta_path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(self.meta_path + ".tmp", self.meta_path)
        self._prune()
        return meta

    def _prune(self) -> None:
        entries = sorted(
            (os.path.getmtime(os.path.join(self.base, d)), d)
            for d in os.listdir(self.base) if d.startswith("seed-"))
        for _, d in entries[:-KEEP_SEEDS]:
            shutil.rmtree(os.path.join(self.base, d), ignore_errors=True)


# ---------------------------------------------------------------------------
# Oracle results
# ---------------------------------------------------------------------------

def oracle_results(sf_dir: str, names: list[str], out_dir: str) -> dict:
    """Run each query's DuckDB oracle over the replica; store the result as
    parquet and return {name: {"rows": n, "digest": sha}}."""
    from osm_coverage_spark import registry

    sql = {**registry.ORACLE, **registry.RETIRED_ORACLE}
    con = duckdb_conn(sf_dir)
    out = {}
    try:
        for name in names:
            df = con.execute(sql[name]).df()
            df.to_parquet(os.path.join(out_dir, f"oracle_{name}.parquet"))
            out[name] = {"rows": len(df), "digest": frame_digest(df)}
    finally:
        con.close()
    return out


def load_oracle(cache_dir: str, name: str):
    import pandas as pd

    return pd.read_parquet(os.path.join(cache_dir, f"oracle_{name}.parquet"))


def normalize(df):
    """Columns sorted by name, rows sorted, floats rounded to 9 places."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(9)
        elif df[c].dtype.kind == "b":
            df[c] = df[c].astype(bool)
        elif df[c].dtype.kind in "iu":
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns), na_position="first").reset_index(
        drop=True)


def frame_digest(df) -> str:
    df = normalize(df)
    h = hashlib.sha256(",".join(df.columns).encode())
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()[:16]


def compare(got, want, tol: float = 1e-9) -> list[str]:
    """Mismatch descriptions between two frames (empty list = equal)."""
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"rows {len(got)} != {len(want)}"]
    a, b = normalize(got), normalize(want)
    problems = []
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            bad = ~np.isclose(x.astype(float), y.astype(float), rtol=tol,
                              atol=tol, equal_nan=True)
        else:
            bad = x.astype(str).to_numpy() != y.astype(str).to_numpy()
        if bad.any():
            problems.append(f"column {c}: {int(bad.sum())}/{len(a)} differ")
    return problems


# ---------------------------------------------------------------------------
# Ingest: versioned image table and change batches
# ---------------------------------------------------------------------------

IMAGE_COLS = ("image_id", "w", "h", "fmt", "caption", "phash", "bytes",
              "lat", "lon", "deleted")


def image_schema() -> pa.Schema:
    return pa.schema([
        ("image_id", pa.string()), ("w", pa.int32()), ("h", pa.int32()),
        ("fmt", pa.string()), ("caption", pa.string()), ("phash", pa.int64()),
        ("bytes", pa.binary()), ("lat", pa.float64()), ("lon", pa.float64()),
        ("deleted", pa.bool_()),
    ])


def _encode(rows: list[dict]) -> list[bytes]:
    from osm_coverage_spark.images import codec

    return [codec.encode(codec.synth_pixels(r["image_id"], r["w"], r["h"]),
                         r["caption"], r["fmt"]) for r in rows]


def _table(rows: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(rows, schema=image_schema())


def base_images(sf_dir: str) -> list[dict]:
    """The replica's ``images`` view (oracle-side SQL text) with encoded
    bytes; ``deleted`` is the tombstone flag the ingest ticks set."""
    from osm_coverage_spark.sources import derived

    con = duckdb_conn(sf_dir)
    try:
        df = con.execute(
            derived.oracle_prelude_images()
            + " SELECT image_id, w, h, fmt, caption, phash, lat, lon FROM images"
            " ORDER BY image_id").df()
    finally:
        con.close()
    rows = [
        {"image_id": r.image_id, "w": int(r.w), "h": int(r.h), "fmt": r.fmt,
         "caption": r.caption, "phash": int(r.phash), "lat": float(r.lat),
         "lon": float(r.lon), "deleted": False}
        for r in df.itertuples(index=False)
    ]
    for r, b in zip(rows, _encode(rows)):
        r["bytes"] = b
    return rows


def tick_batches(base: list[dict], seed: int, n_ticks: int, frac: float,
                 out_dir: str) -> list[dict]:
    """Per tick: inserts (new images), updates (a live image moved) and
    deletes (a live image replaced by its tombstone: ``deleted`` set and
    the payload dropped). Written as ``tick-<k>.parquet``; returns per-tick
    counts and the batch's parquet bytes."""
    rng = np.random.default_rng([seed, 7])
    live = {r["image_id"]: r for r in base}
    n_change = max(3, round(frac * len(base)))
    meta = []
    next_id = 0
    for k in range(n_ticks):
        ids = sorted(live)
        picked = rng.choice(len(ids), size=2 * n_change // 3, replace=False)
        upd_ids = [ids[i] for i in picked[: n_change // 3]]
        del_ids = [ids[i] for i in picked[n_change // 3:]]
        inserts = []
        for _ in range(n_change - len(upd_ids) - len(del_ids)):
            side = 32 + 8 * int(rng.integers(0, 29))
            inserts.append({
                "image_id": f"new_{seed}_{next_id}", "w": side,
                "h": 32 + 8 * int(rng.integers(0, 29)),
                "fmt": "jpeg" if next_id % 3 == 0 else "png",
                "caption": f"arrival {next_id} tick {k}",
                "phash": int(rng.integers(0, 2**60)),
                "lat": float(50.0 + 2.0 * rng.random()),
                "lon": float(6.0 + 4.0 * rng.random()),
                "deleted": False,
            })
            next_id += 1
        for r, b in zip(inserts, _encode(inserts)):
            r["bytes"] = b
        updates = [dict(live[i], lat=live[i]["lat"] + float(rng.normal(0, 0.02)),
                        lon=live[i]["lon"] + float(rng.normal(0, 0.02)))
                   for i in upd_ids]
        deletes = [dict(live[i], bytes=b"", deleted=True) for i in del_ids]
        for r in inserts + updates:
            live[r["image_id"]] = r
        for i in del_ids:
            del live[i]
        path = os.path.join(out_dir, f"tick-{k}.parquet")
        pq.write_table(_table(inserts + updates + deletes), path,
                       compression="snappy")
        meta.append({"inserts": len(inserts), "updates": len(updates),
                     "deletes": len(deletes), "bytes": os.path.getsize(path),
                     "mpx": sum(r["w"] * r["h"] for r in inserts + updates) / 1e6})
    return meta


def write_base(rows: list[dict], path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(_table(rows), os.path.join(path, "part-0.parquet"),
                   compression="snappy")
