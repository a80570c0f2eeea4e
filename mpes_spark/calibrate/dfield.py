"""Inverse deformation-field generation (numpy-only).

Reference behavior: ``generateDfield``
(/root/reference/mpes/base.py:541-576) inverts the forward
(row, column) deformation fields onto the detector grid with
``scipy.griddata``. The env has no scipy, so the inversion here is a
scatter-accumulate: each forward sample (i, j) -> (r', c') votes its
source coordinate into the output cell nearest (r', c'); holes are
filled by iterative 3x3 neighbor means. Cells never reached by any
forward sample (outside the warped detector footprint) stay NaN —
the same boundary-NaN semantics the reference leaves in place
(base.py:570-572, their open TODO).

The result feeds :func:`mpes_spark.transforms.corrections.dfield_table`
(broadcast-join application).
"""

from __future__ import annotations

import numpy as np


def generate_dfield(
    rdeform_field: np.ndarray,
    cdeform_field: np.ndarray,
    out_shape: tuple[int, int] = (2048, 2048),
    fill_iters: int = 2,
) -> np.ndarray:
    """Invert forward deformation fields. Returns (2, H, W): the
    row/column *source* coordinate (scaled to the output grid) for each
    output detector pixel."""
    rdef = np.asarray(rdeform_field, dtype=float)
    cdef = np.asarray(cdeform_field, dtype=float)
    if rdef.shape != cdef.shape:
        raise ValueError("deformation fields must share a shape")
    h_in, w_in = rdef.shape
    h_out, w_out = out_shape
    r_scale = h_out / h_in
    c_scale = w_out / w_in

    ii, jj = np.meshgrid(np.arange(h_in), np.arange(w_in), indexing="ij")
    # forward-mapped positions on the output grid
    ro = np.rint(rdef * r_scale).astype(int).ravel()
    co = np.rint(cdef * c_scale).astype(int).ravel()
    src_r = (ii * r_scale).astype(float).ravel()
    src_c = (jj * c_scale).astype(float).ravel()

    ok = (ro >= 0) & (ro < h_out) & (co >= 0) & (co < w_out)
    flat = ro[ok] * w_out + co[ok]

    sum_r = np.bincount(flat, weights=src_r[ok], minlength=h_out * w_out)
    sum_c = np.bincount(flat, weights=src_c[ok], minlength=h_out * w_out)
    cnt = np.bincount(flat, minlength=h_out * w_out)

    with np.errstate(invalid="ignore", divide="ignore"):
        inv_r = (sum_r / cnt).reshape(h_out, w_out)
        inv_c = (sum_c / cnt).reshape(h_out, w_out)

    for field in (inv_r, inv_c):
        _fill_holes(field, fill_iters)
    return np.asarray([inv_r, inv_c])


def _fill_holes(a: np.ndarray, iters: int) -> None:
    """Iterative 3x3 neighbor-mean fill, in place. Interior gaps (from
    rounding collisions) close within a pass or two; cells farther than
    ``iters`` from the warped footprint keep NaN — the reference's
    boundary-NaN semantics."""
    for _ in range(iters):
        nan = np.isnan(a)
        if not nan.any():
            return
        p = np.pad(a, 1, constant_values=np.nan)
        stacked = np.stack(
            [
                p[1 + di : 1 + di + a.shape[0], 1 + dj : 1 + dj + a.shape[1]]
                for di in (-1, 0, 1)
                for dj in (-1, 0, 1)
                if (di, dj) != (0, 0)
            ]
        )
        valid = ~np.isnan(stacked)
        cnt = valid.sum(axis=0)
        neigh_sum = np.where(valid, stacked, 0.0).sum(axis=0)
        fillable = nan & (cnt > 0)
        a[fillable] = neigh_sum[fillable] / cnt[fillable]
