"""Perceptual-hash image near-dup: dHash + banded Hamming LSH.

The multimodal member of the dedup family: re-hosted images are the
image-side analogue of mirrored pages — the SAME picture re-encoded by
a CDN (format transcode, slight recompression) has a different sha256,
so byte-level dedup (dd_exact's logic) misses it. The standard cheap
answer is a PERCEPTUAL hash over decoded pixels: dHash (difference
hash) — downsample to a (9 wide x 8 tall) luminance grid, emit one bit
per horizontal neighbor comparison (64 bits), and call images whose
hashes sit within a small Hamming distance duplicates. Gradients
survive re-encode noise; that's the whole trick.

Everything is exact integer math over the REAL decoders
(functions/{png,jpeg,gif}.py — reference parity: the raster path of
apps/queue/src/lib/ocr.ts:56-71 is where the reference touches pixels):

- luminance grid: nearest-neighbor sampling (same rule as
  multimodal.resize_nearest_luma, rectangular), integer mean across
  channels.
- bit (row r, col c) = 1 iff g[r][c] < g[r][c+1]; 64 bits packed
  row-major as FOUR 16-bit band integers (rows 2r, 2r+1 per band) —
  bands ARE the LSH: with 4 bands, Hamming distance <= 3 forces at
  least one band byte-identical (pigeonhole), so a same-band
  equi-join finds every true near-dup pair; the verify step computes
  the exact distance with JVM ``bit_count`` over band XORs and keeps
  pairs <= MAX_HAMMING. No quadratic pass anywhere.
- decode failures (truncated payloads, foreign magic, audio/video
  rows) carry decode_error and simply cannot pair — never dropped
  from the hash table, never hashed.

Scale: the hash kernel is one mapInPandas projection over the media
table. The banded candidate join shuffles (band_idx, band_val) keys —
the dd_minhash_lsh pattern — and the verify join touches only
candidate urls. At corpus scale the hash table is 5 ints per image;
the quadratic all-pairs pass exists ONLY in the fixture oracle
(tools/make_driver_fixtures.py:imagedup_fixture), which independently
brute-forces every pair — so the gate also pins the pigeonhole
guarantee itself (banded join == brute force at the committed
threshold).

The corpus plants both liveness classes: doc_index % 5 == 0 decode-ok
images gain a TRANSCODE twin (decoded pixels re-encoded losslessly as
PNG under a cdn.example.net url — Hamming 0, different sha256) and
doc_index % 5 == 2 a PERTURBED twin (one sampled grid cell brightened
before the re-encode — Hamming 1-2, still within threshold); a
doc_index % 5 == 4 twin perturbs three cells across three different
bands, leaving band 3 intact: a candidate the verify step must REJECT
whenever its true distance lands past MAX_HAMMING (live in the
committed corpus, asserted by test).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

PHASH_DOCS = 200
GRID_W, GRID_H = 9, 8          # 8 comparisons per row x 8 rows = 64 bits
N_BANDS = 4                    # 16 bits per band
MAX_HAMMING = 3                # <= 3 ⇒ >= 1 intact band (pigeonhole)

HASH_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("b0", LongType(), True),
    StructField("b1", LongType(), True),
    StructField("b2", LongType(), True),
    StructField("b3", LongType(), True),
    StructField("hash_hex", StringType(), True),
    StructField("decode_error", StringType(), True),
])


def luma_grid(w: int, h: int, ch: int, px: bytes,
              gw: int = GRID_W, gh: int = GRID_H) -> list[list[int]]:
    """Rectangular nearest-neighbor luminance grid (the
    resize_nearest_luma sampling rule, gw x gh)."""
    grid = []
    for gy in range(gh):
        sy = gy * h // gh
        row = []
        for gx in range(gw):
            sx = gx * w // gw
            base = (sy * w + sx) * ch
            row.append(sum(px[base:base + ch]) // ch)
        grid.append(row)
    return grid


def dhash_bands(w: int, h: int, ch: int, px: bytes) -> list[int]:
    """Four 16-bit band integers; band k packs rows 2k and 2k+1,
    MSB-first row-major within the band."""
    g = luma_grid(w, h, ch, px)
    bands = []
    for k in range(N_BANDS):
        v = 0
        for r in (2 * k, 2 * k + 1):
            for c in range(GRID_W - 1):
                v = (v << 1) | (1 if g[r][c] < g[r][c + 1] else 0)
        bands.append(v)
    return bands


def hamming(a: list[int], b: list[int]) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


# --- corpus twins -----------------------------------------------------------

def _grid_cells(h16: str, n: int, distinct_band_rows: bool) -> list[tuple]:
    """n deterministic (gy, gx) sample cells from a hex seed; when
    distinct_band_rows, the cells land in rows 0/2/4 (bands 0,1,2)."""
    cells = []
    for j in range(n):
        gy = (2 * j) if distinct_band_rows else int(h16[2 * j], 16) % GRID_H
        gx = int(h16[2 * j + 1], 16) % GRID_W
        cells.append((gy, gx))
    return cells


def twin_doc(doc_index: int, seed: int = 42) -> dict | None:
    """The re-hosted copy of image row ``doc_index`` (or None when the
    row is audio/video/corrupt, fails to decode, or is unselected). Pure
    function of the index, computed through the real decoders."""
    import hashlib

    from ocr_platform_spark.datagen import gen_media
    from ocr_platform_spark.functions.png import encode_png
    from ocr_platform_spark.operators.multimodal import decode_image

    mode = doc_index % 5
    if mode not in (0, 2, 4):
        return None
    if doc_index % 13 == 5 or doc_index % 17 == 3:
        return None                              # corrupt originals
    if doc_index % 7 == 4 or (doc_index % 11 == 6):
        return None                              # audio/video rows
    row = gen_media(doc_index, seed)
    try:
        w, h, ch, px = decode_image(row["media"])
    except Exception:
        return None             # undecodable: skipped, like the fixture
    px = bytearray(px)
    if mode != 0:
        n_cells = 1 if mode == 2 else 3
        hseed = hashlib.md5(row["url"].encode()).hexdigest()
        for gy, gx in _grid_cells(hseed, n_cells, mode == 4):
            sy, sx = gy * h // GRID_H, gx * w // GRID_W
            base = (sy * w + sx) * ch
            for c in range(ch):
                px[base + c] = min(255, px[base + c] + 64)
    return {"url": f"https://cdn.example.net/m/{doc_index}.png",
            "media": encode_png(w, h, ch, bytes(px))}


def phash_media_df(spark: SparkSession, n_rows: int = PHASH_DOCS,
                   seed: int = 42) -> DataFrame:
    """Originals + re-hosted twins, generated distributively (the
    generator is the table, like sources.pages.media_df)."""
    from ocr_platform_spark.datagen import gen_media

    nparts = spark.sparkContext.defaultParallelism

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                rows.append(gen_media(int(i), seed))
                tw = twin_doc(int(i), seed)
                if tw is not None:
                    rows.append(tw)
            yield pd.DataFrame(rows, columns=["url", "media"])

    return spark.range(0, n_rows, 1, nparts).mapInPandas(
        gen, schema="url string, media binary")


# --- hash kernel + banded LSH join -----------------------------------------

def image_hash_df(media: DataFrame) -> DataFrame:
    """media(url, media:binary) → dHash bands; failures keep their row
    with decode_error set (never-drop)."""
    from ocr_platform_spark.operators.multimodal import decode_image

    cols = [f.name for f in HASH_SCHEMA.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, payload in zip(pdf["url"], pdf["media"]):
                try:
                    w, h, ch, px = decode_image(bytes(payload or b""))
                    b = dhash_bands(w, h, ch, px)
                    out.append((url, *b,
                                "".join(f"{v:04x}" for v in b), None))
                except Exception as e:
                    out.append((url, None, None, None, None, None,
                                f"{type(e).__name__}: {e}"))
            yield pd.DataFrame(out, columns=cols)

    return media.select("url", "media").mapInPandas(
        gen, schema=HASH_SCHEMA)


def phash_pairs(hashes: DataFrame,
                max_hamming: int = MAX_HAMMING) -> DataFrame:
    """Banded candidate join + exact verify. Every pair within
    ``max_hamming`` shares >= 1 band (64/N_BANDS-bit pigeonhole), so
    the equi-join loses nothing; bit_count over band XORs is the exact
    distance, all JVM-side."""
    ok = hashes.where(F.col("decode_error").isNull())
    bands = ok.select(
        "url", F.posexplode(F.array("b0", "b1", "b2", "b3"))
        .alias("band_idx", "band_val"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (a.join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
                   & (F.col("a.band_val") == F.col("b.band_val"))
                   & (F.col("a.url") < F.col("b.url")))
            .select(F.col("a.url").alias("url_a"),
                    F.col("b.url").alias("url_b"))
            .distinct())
    ha = ok.select(*[F.col(c).alias(f"{c}_a") for c in
                     ("url", "b0", "b1", "b2", "b3")])
    hb = ok.select(*[F.col(c).alias(f"{c}_b") for c in
                     ("url", "b0", "b1", "b2", "b3")])
    dist = sum(F.bit_count(F.col(f"b{k}_a").bitwiseXOR(F.col(f"b{k}_b")))
               for k in range(N_BANDS))
    return (cand.join(ha, "url_a").join(hb, "url_b")
            .select("url_a", "url_b",
                    dist.cast("long").alias("hamming"))
            .where(F.col("hamming") <= max_hamming))


def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture-oracled (scale-free synthetic corpus): the fixture
    brute-forces ALL pairs with the independent pure-Python replay, so
    agreement pins both the hash kernel and the banding guarantee."""
    return phash_pairs(image_hash_df(phash_media_df(spark)))


from ocr_platform_spark.operators.registry import \
    fixture_sql as _fixture_sql  # noqa: E402

QUERIES: dict = {
    # wave 53: perceptual-hash image near-dup, beyond-window
    "mm_phash_dedup": (
        mm_phash_dedup, _fixture_sql("mm_phash_dedup.parquet")),
}
