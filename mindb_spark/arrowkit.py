"""Zero-copy bridges between pyarrow scan batches and numpy kernels.

Every heavy kernel in this engine is numpy-over-Arrow. The default
``mapInPandas`` route converts list columns into a Python ndarray PER
ROW (measured ~4 ms/MB on local[32] — it dominated the fused covering
ANN scan at 1M+ rows, PERF_NOTES round 6). These helpers let kernels
run over ``mapInArrow`` batches instead: uniform-width list/binary
columns flatten to one (n, w) numpy view per batch, nested list
columns to one flat matrix plus CSR offsets, and non-numeric columns
ride through as Arrow arrays (take/filter) without ever becoming
Python objects.
"""

from __future__ import annotations

import numpy as np


def one_chunk(col):
    """Single pyarrow Array from a Table column (concatenating chunks).

    NOT safe for plain list/binary/string columns whose concatenated
    child length exceeds 2^31 (combine_chunks overflows the 32-bit
    offsets — hit at 3M x 768-d vectors = 2.3B child doubles); use
    :func:`fixed_width_matrix_chunked` for wide matrix columns.
    """
    return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()


def fixed_width_matrix_chunked(col, width: int) -> np.ndarray | None:
    """(n, width) numpy matrix from a CHUNKED uniform-width list/binary
    column, flattening each chunk as a zero-copy view and stacking.

    One memcpy when multiple chunks (np.vstack) — combine_chunks would
    instead overflow Arrow's 32-bit list offsets past ~2.1B child
    elements, which a 3M x 768-d driver collect already exceeds.
    Returns None when any chunk is ragged or carries nulls (callers
    fall back to the per-row path).
    """
    chunks = list(col.chunks) if hasattr(col, "chunks") else [col]
    mats = []
    for ch in chunks:
        if len(ch) == 0:
            continue
        m = fixed_width_matrix(ch, width)
        if m is None:
            return None
        mats.append(m)
    if not mats:
        return None
    return mats[0] if len(mats) == 1 else np.vstack(mats)


def fixed_width_matrix(arr, width: int | None = None) -> np.ndarray | None:
    """(n, w) numpy view over a uniform-width pyarrow binary/list array.

    Zero-copy for the data payload. Returns None when the array is
    ragged or carries nulls; callers fall back to the slow per-row path.
    """
    import pyarrow as pa

    if arr.null_count:
        return None
    n = len(arr)
    if pa.types.is_binary(arr.type) or pa.types.is_large_binary(arr.type):
        off_dt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
        bufs = arr.buffers()
        offs = np.frombuffer(bufs[1], dtype=off_dt)[arr.offset : arr.offset + n + 1]
        widths = np.diff(offs)
        w = int(widths[0]) if n else (width or 0)
        if (width is not None and w != width) or (n and not (widths == w).all()):
            return None
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        return data[offs[0] : offs[-1]].reshape(n, w)
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        if arr.values.null_count:
            return None
        offs = arr.offsets.to_numpy(zero_copy_only=False)
        widths = np.diff(offs)
        w = int(widths[0]) if n else (width or 0)
        if (width is not None and w != width) or (n and not (widths == w).all()):
            return None
        flat = arr.values.to_numpy(zero_copy_only=False)
        return flat[offs[0] : offs[-1]].reshape(n, w)
    return None


def list_array(mat: np.ndarray):
    """pyarrow list array with one (d,) row per row of a numpy (n, d)
    matrix, keeping its dtype — the inverse of :func:`fixed_width_matrix`.

    The offsets are 32-bit (Spark's ``array<...>`` maps to a plain list):
    a matrix past 2^31 elements raises instead of wrapping."""
    import pyarrow as pa

    n, d = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int64), type=pa.int32()),
        pa.array(np.ascontiguousarray(mat).ravel()),
    )


def flat_values(arr) -> tuple[np.ndarray, np.ndarray] | None:
    """(flat_values, row_offsets) for a list array of scalars.

    ``row i`` owns ``flat[offs[i] - offs[0] : offs[i+1] - offs[0]]``.
    Returns None on nulls (top level or values)."""
    if arr.null_count or arr.values.null_count:
        return None
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    flat = arr.values.to_numpy(zero_copy_only=False)
    return flat[offs[0] : offs[-1]], offs - offs[0]


def nested_matrix(arr, width: int | None = None):
    """Flatten a list<list<numeric>> array to ONE (N, w) matrix + offsets.

    Returns ``(mat, offs)`` where bucket ``i``'s rows are
    ``mat[offs[i] : offs[i+1]]`` — so a per-bucket GEMM kernel does zero
    per-bucket conversion work (one slice view each). None when ragged
    inner widths or nulls anywhere."""
    if arr.null_count:
        return None
    inner = arr.values  # list<numeric> array holding all buckets' rows
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    offs = offs - offs[0]
    # window the inner rows this (possibly sliced) outer array covers
    start = int(arr.offsets.to_numpy(zero_copy_only=False)[0])
    inner = inner.slice(start, int(offs[-1]))
    mat = fixed_width_matrix(inner, width)
    if mat is None:
        return None
    return mat, offs
