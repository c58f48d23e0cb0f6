"""PIP / raster↔vector joins + image-codec pipeline queries.

``pip_zones`` runs the real ``geo/pip.pip_join`` (cell classification plus
the JVM ray-cast); with the derived rectangle polygons it is provably equal
to the strict-bbox DuckDB oracle (edges offset off the coordinate lattice),
so the join is oracle-verified. The codec queries (`image_decode_verify`,
`image_features`, `image_frame_sample`) run the REAL PNG/JPEG codecs
distributed and emit integer-exact stats matched hash-for-hash by the
block-class DuckDB oracles in sources/image_oracle.py (every 8×8 block of
the lattice pixels is one of 256 canonical blocks per channel — see that
module's docstring). Float invariants (PSNR dB values) stay in
tests/test_images.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .geo.pip import pip_join
from .images import ops
from .sources import derived


def _images(spark: SparkSession, sf_dir: str) -> DataFrame:
    derived.register_derived_views(spark, sf_dir)
    return spark.table("images")


def _polys_with_ring(spark: SparkSession) -> DataFrame:
    p = spark.table("polys")
    mk = lambda lon, lat: F.struct(  # noqa: E731
        F.col(lon).alias("lon"), F.col(lat).alias("lat")
    )
    return p.select(
        "zone",
        F.array(
            mk("lon_min", "lat_min"),
            mk("lon_max", "lat_min"),
            mk("lon_max", "lat_max"),
            mk("lon_min", "lat_max"),
        ).alias("ring"),
    )


def q_pip_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    img = _images(spark, sf_dir)
    return pip_join(
        img, _polys_with_ring(spark), point_id="image_id", poly_name="zone",
        fallback="none",
    )


def q_raster_vector_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raster-tile ↔ vector join: per (zone × coarse tile) image counts —
    the PIP hits re-aggregated along both the vector (zone) and raster
    (geocell) axes."""
    from .geo import cells

    img = _images(spark, sf_dir)
    hits = pip_join(
        img, _polys_with_ring(spark), point_id="image_id", poly_name="zone",
        fallback=None,
    )
    tiled = img.select(
        "image_id", cells.cell_expr(F.col("lat"), F.col("lon"), 12).alias("tile")
    )
    return (
        hits.join(tiled, "image_id")
        .groupBy("zone", "tile")
        .agg(F.count(F.lit(1)).alias("n_images"))
    )


def q_image_decode_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode → decode → verify loop over the REAL codecs, emitting the
    integer-exact surface the block-class oracle reproduces."""
    img = _images(spark, sf_dir)
    return ops.decode_verify_int(ops.with_encoded_bytes(img)).select(
        "image_id", "fmt", "pixels_ok", "caption_ok", "sse", "mean_px_e4"
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer aHash (8×8 super-block average hash) + gray3 mass per image,
    computed from the DECODED bytes (so a codec regression breaks it)."""
    img = _images(spark, sf_dir)
    return ops.extract_features_int(ops.with_encoded_bytes(img))


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """encode → decode → 2×2 box-downsample (the thumbnail/pyramid step)
    → integer stats; oracle = the block-class dsum column."""
    img = _images(spark, sf_dir)
    return ops.resize_stats_int(ops.with_encoded_bytes(img))


def q_image_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image → MPNG container of real PNG strip-frames → parse + decode
    each frame → integer per-frame stats."""
    img = _images(spark, sf_dir)
    return ops.sample_container_frames(
        ops.make_video_container(ops.with_encoded_bytes(img))
    )


# --------------------------------------------------------------------------
# Oracles — PIP family here; codec-query oracles come from the block-class
# builder in sources/image_oracle.py
# --------------------------------------------------------------------------

from .geo import cells as _cells  # noqa: E402
from .sources import image_oracle as _io  # noqa: E402

ORACLE: dict[str, str] = {}

ORACLE["image_decode_verify"] = _io.decode_verify_sql()
ORACLE["image_features"] = _io.features_sql()
ORACLE["image_frame_sample"] = _io.frame_sample_sql()
ORACLE["image_resize"] = _io.resize_sql()

# Both polys oracles join on the provably-equivalent grid candidate key
# PLUS the exact bbox predicate (see derived.POINT_GKEY: avoids DuckDB
# 1.0's bare-inequality IEJoin, which can livelock on a many-thread pool).
ORACLE["pip_zones"] = f"""{derived.oracle_prelude_polys()},
ig AS (SELECT image_id, lon, lat, {derived.POINT_GKEY} AS gkey FROM images)
SELECT i.image_id, coalesce(p.zone, 'none') AS zone
FROM ig i LEFT JOIN polys p
  ON p.gkey = i.gkey
 AND i.lon > p.lon_min AND i.lon < p.lon_max
 AND i.lat > p.lat_min AND i.lat < p.lat_max
"""

ORACLE["raster_vector_join"] = f"""{derived.oracle_prelude_polys()},
ig AS (SELECT image_id, lon, lat, {derived.POINT_GKEY} AS gkey FROM images)
SELECT p.zone, {_cells.cell_sql('i.lat', 'i.lon', 12)} AS tile,
       CAST(count(*) AS BIGINT) AS n_images
FROM ig i JOIN polys p
  ON p.gkey = i.gkey
 AND i.lon > p.lon_min AND i.lon < p.lon_max
 AND i.lat > p.lat_min AND i.lat < p.lat_max
GROUP BY 1, 2
"""

def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-paired audio roundtrip (upgrades the audio modality from
    test-only to gate-checked): deterministic int16 PCM per document →
    REAL RIFF/WAVE container bytes (stdlib `wave` writer) → parsed back
    by the engine's WAV parser (`images/ops._parse_wav`) → integer sample
    statistics. Sample i of clip d is ((d*31 + i*7) % 65536) - 32768, so
    the DuckDB oracle recomputes every statistic in closed form from
    range() arithmetic without touching a byte — any header, width,
    endianness, or framing bug in the writer OR parser breaks parity.
    Integer outputs only (sum|x|, max|x|) — no FP in compared columns."""
    derived.load_testdata(spark, sf_dir)
    docs = spark.table("documents").select("doc_id", "n_chars")

    def gen(batches):
        import io
        import wave

        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for did, nch in zip(pdf["doc_id"], pdf["n_chars"]):
                n = int(nch) % 2048 + 256
                sr = 8000 + (int(did) % 3) * 4000
                i = np.arange(n, dtype=np.int64)
                pcm = ((int(did) * 31 + i * 7) % 65536 - 32768).astype("<i2")
                buf = io.BytesIO()
                with wave.open(buf, "wb") as w:
                    w.setnchannels(1)
                    w.setsampwidth(2)
                    w.setframerate(sr)
                    w.writeframes(pcm.tobytes())
                rows.append((int(did), buf.getvalue()))
            yield pd.DataFrame(rows, columns=["clip_id", "bytes"])

    clips = docs.mapInPandas(gen, "clip_id long, bytes binary")

    def feats(batches):
        import numpy as np
        import pandas as pd

        from .images.ops import _parse_wav

        for pdf in batches:
            rows = []
            for cid, data in zip(pdf["clip_id"], pdf["bytes"]):
                pcm, sr, ch = _parse_wav(bytes(data))
                a = np.abs(pcm.astype(np.int64))
                rows.append(
                    (int(cid), int(sr), int(ch), int(len(pcm)),
                     int(a.sum()), int(a.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=["clip_id", "sample_rate", "channels", "n_samples",
                         "sum_abs", "peak_abs"],
            )

    return clips.mapInPandas(
        feats,
        "clip_id long, sample_rate int, channels int, n_samples long, "
        "sum_abs long, peak_abs long",
    )


QUERIES = {
    "pip_zones": q_pip_zones,
    "raster_vector_join": q_raster_vector_join,
    "image_decode_verify": q_image_decode_verify,
    "image_features": q_image_features,
    "image_frame_sample": q_image_frame_sample,
    "image_resize": q_image_resize,
    "audio_features": q_audio_features,
}

# audio: every statistic recomputed in closed form from the PCM formula —
# the WAV writer/parser roundtrip must agree with pure arithmetic
ORACLE["audio_features"] = """
WITH d AS (
  SELECT doc_id, n_chars % 2048 + 256 AS n,
         8000 + CAST(doc_id % 3 AS INT) * 4000 AS sr
  FROM documents
), s AS (
  SELECT doc_id, sr, n, unnest(range(0, n)) AS i FROM d
)
SELECT doc_id AS clip_id, CAST(sr AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels, CAST(n AS BIGINT) AS n_samples,
       CAST(sum(abs(((doc_id * 31 + i * 7) % 65536) - 32768)) AS BIGINT) AS sum_abs,
       CAST(max(abs(((doc_id * 31 + i * 7) % 65536) - 32768)) AS BIGINT) AS peak_abs
FROM s GROUP BY doc_id, sr, n
"""
