"""Perceptual image hashing (dHash) for near-duplicate image dedup.

The standard image-curation near-dup pass (r10, VERDICT r9 #6): decode
real image bytes, downsample to a tiny fixed grid, difference-hash
adjacent pixels into a 64-bit signature, and find near-duplicates by
banded bucketing — never a pairwise scan.

dHash (difference hash, the Krawetz construction): resample the image
to a 9x8 grayscale grid and emit bit(r, c) = 1 iff grid[r][c+1] >
grid[r][c] — 8 comparisons per row x 8 rows = 64 bits.  Perceptually
similar images (small edits, recompression, minor crops) flip few
bits, so near-duplicates are pairs at small Hamming distance.

Banding theorem (the MinHash-LSH band argument on Hamming space): the
64 bits split into 4 disjoint 16-bit bands; a pair with Hamming
distance <= 3 differs in at most 3 bands, so AT LEAST ONE band is
byte-identical and the pair surfaces in a band-value equi-join bucket.
Candidates are then verified with the exact Hamming distance, so the
banded join finds EXACTLY the pairs at distance <= 3 — completeness is
a pigeonhole theorem, not a heuristic (the x_setsim_ppjoin
discipline).  At larger corpora the band width grows with log2(n)
(more bands of fewer bits raise recall for a wider radius; fewer,
wider bands cut bucket collisions) — the same derived-parameter
pattern as the ANN CASE-ladder in similarity.py.

Construction for the exact oracle (the x_audio_qa_gate discipline):
each document becomes a REAL 36x32 grayscale PNG built from a 9x8
grid of 4x4 constant tiles whose values are md5-derived from a
4-document group key, plus one per-document perturbed tile — so the
decode -> 4x4 average-pool -> dHash pipeline on the Spark side is a
genuine image pipeline (png.py encode + decode, integer pooling),
while a DuckDB oracle recomputes every band from the md5 closed form.
Planted groups make true near-dup pairs (each group member perturbs a
different tile of the shared base image, moving <= 2 dHash bits).

No reference-repo counterpart (the reference is a title-standardizing
scalar UDF, src/lib.rs:43-86); this is mandated LLM-pipeline surface.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from ..sources.tables import load_table

GRID_ROWS = 8
GRID_COLS = 9
TILE = 4
PERTURB_DELTA = 96
GROUP_SIZE = 4
N_BANDS = 4
# Bits per dHash row = adjacent-column comparisons = GRID_COLS - 1.
# Numerically equal to GRID_ROWS (8) for this grid, but semantically
# distinct: band packing and the SQL oracle's bit offsets iterate row
# BITS, so they must track GRID_COLS, not GRID_ROWS.
N_ROW_BITS = GRID_COLS - 1
BAND_BITS = 16


def tile_values(doc_id: int) -> np.ndarray:
    """The md5 closed form shared with the SQL oracle: base tile
    value (r, c) is hex byte c of md5('<gkey>:<r>') where gkey =
    doc_id // 4, then the per-document perturbation bumps tile
    (doc_id % 8, (doc_id // 8) % 9) by +96 mod 256."""
    gkey = doc_id // GROUP_SIZE
    v = np.empty((GRID_ROWS, GRID_COLS), dtype=np.int64)
    for r in range(GRID_ROWS):
        hx = hashlib.md5(f"{gkey}:{r}".encode()).hexdigest()
        for c in range(GRID_COLS):
            v[r, c] = int(hx[2 * c:2 * c + 2], 16)
    pr = doc_id % GRID_ROWS
    pc = (doc_id // GRID_ROWS) % GRID_COLS
    v[pr, pc] = (v[pr, pc] + PERTURB_DELTA) % 256
    return v


def encode_tile_png(values: np.ndarray) -> bytes:
    """Upscale the 9x8 tile grid to a real 36x32 grayscale PNG (each
    tile a constant 4x4 block) through the full png.py encoder."""
    from .png import encode_png

    img = np.kron(values.astype(np.uint8), np.ones((TILE, TILE),
                                                   dtype=np.uint8))
    return encode_png(img)


def dhash_bands_from_png(payload: bytes) -> tuple[int, int, int, int]:
    """REAL perceptual-hash pipeline: PNG decode (CRC-verified chunk
    walk) -> exact integer 4x4 average-pool down to 9x8 -> dHash ->
    four 16-bit bands.  Band k packs bits of grid rows 2k and 2k+1
    (bit (r, c) at offset (r - 2k) * 8 + c)."""
    from .png import decode_png_planes

    w, h, planes = decode_png_planes(payload)
    if (w, h) != (GRID_COLS * TILE, GRID_ROWS * TILE):
        raise ValueError(f"unexpected image dims {w}x{h}")
    gray = planes[:, :, 0].astype(np.int64)
    pooled = gray.reshape(GRID_ROWS, TILE, GRID_COLS, TILE)
    pooled = pooled.sum(axis=(1, 3)) // (TILE * TILE)
    bits = (pooled[:, 1:] > pooled[:, :-1]).astype(np.int64)  # 8x8
    bands = []
    for k in range(N_BANDS):
        val = 0
        for rr in range(2):
            for c in range(N_ROW_BITS):
                val |= int(bits[2 * k + rr, c]) << (rr * N_ROW_BITS + c)
        bands.append(val)
    return tuple(bands)


def dhash_bands_for(docs_df, carry: tuple = ()):
    """dHash band signatures for an arbitrary DataFrame carrying
    ``doc_id`` (plus optional passthrough columns): build the tile
    PNG, decode it back, pool, hash — all map-side.  Output: doc_id,
    *carry, b0..b3 (each a 16-bit BIGINT)."""
    carry = tuple(carry)

    def work(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for did in pdf["doc_id"]:
                did = int(did)
                bands = dhash_bands_from_png(
                    encode_tile_png(tile_values(did)))
                out["doc_id"].append(did)
                for k in range(N_BANDS):
                    out[f"b{k}"].append(bands[k])
            res = {"doc_id": pd.Series(out["doc_id"], dtype="int64")}
            for c in carry:
                res[c] = pdf[c].reset_index(drop=True)
            for k in range(N_BANDS):
                res[f"b{k}"] = pd.Series(out[f"b{k}"], dtype="int64")
            yield pd.DataFrame(res)

    carry_schema = "".join(f", {c} STRING" for c in carry)
    return docs_df.mapInPandas(
        work,
        f"doc_id BIGINT{carry_schema}, "
        "b0 BIGINT, b1 BIGINT, b2 BIGINT, b3 BIGINT")


def dhash_bands_table(spark, sf_dir: str):
    """Per-document dHash band signatures, reading only doc_id.
    The corpus parquet is a single small file locally, which would
    pin the whole encode+decode+hash pass to one core — spread the
    doc_id list across the executor threads (at 100 TB the scan's
    natural file splits make this a no-op-sized shuffle of one
    BIGINT column either way)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id").repartition(spark.sparkContext.defaultParallelism)
    return dhash_bands_for(docs)
