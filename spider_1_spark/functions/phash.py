"""64-bit perceptual hash (dHash) — SPEC-9, pinned bit-for-bit.

Shared by the reference oracle and the engine's vectorized
``pandas_udf(LongType())`` (SURVEY §2 op A15; BASELINE.json:6
"verifies phash", :15 ``phash:int64``).

Pinned algorithm:
  * grayscale: ``gray = (299*R + 587*G + 114*B) // 1000`` (integer math);
  * block-average onto an 8-row x 9-column grid: grid cell (r, c) is the
    floor-division mean over the rectangular pixel block
    rows [r*h//8, (r+1)*h//8) x cols [c*w//9, (c+1)*w//9);
  * bit k = 8*r + c (r in 0..7, c in 0..7) is 1 iff
    ``grid[r][c] > grid[r][c+1]``;
  * bit 0 is the MSB of the int64 (big-endian bit order), value stored
    as a *signed* 64-bit integer.

Requires w >= 9 and h >= 8 (fixture images are 16..64 px, FIXTURES A4).
"""

from __future__ import annotations

import numpy as np


def dhash64(rgb: np.ndarray) -> int:
    """dHash of an (h, w, 3) uint8 RGB array -> signed int64."""
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError(f"expected (h, w, 3) RGB array, got {rgb.shape}")
    h, w = rgb.shape[:2]
    if h < 8 or w < 9:
        raise ValueError(f"image too small for 9x8 dHash grid: {w}x{h}")
    px = rgb.astype(np.int64)
    gray = (299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]) // 1000

    # block sums over the 8x9 grid: every block is non-empty (h >= 8,
    # w >= 9), so the edges strictly increase and reduceat sums
    # [edge[i], edge[i+1]) along each axis
    row_edges = np.arange(9) * h // 8
    col_edges = np.arange(10) * w // 9
    sums = np.add.reduceat(
        np.add.reduceat(gray, row_edges[:-1], axis=0), col_edges[:-1], axis=1
    )
    grid = sums // np.outer(np.diff(row_edges), np.diff(col_edges))

    bits = grid[:, :8] > grid[:, 1:]  # bit k = 8*r + c, row-major
    # bit 0 = MSB, read back as a signed big-endian int64
    return int(np.packbits(bits).view(">i8")[0])
