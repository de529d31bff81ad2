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

One contract for every decoder here: decode or raise. A column that
is not a uniform-width matrix — ragged rows, null rows, or null values
inside the rows the array references — raises ``ValueError`` naming
the shape problem; no decoder returns ``None`` and no caller keeps a
per-row fallback. Matrix decoders accept a pyarrow ``Array`` or a
``ChunkedArray`` (a collected table column). :func:`collect_matrix` is
the one driver-side collect of a matrix column.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def one_chunk(col):
    """Single pyarrow Array from a Table column (concatenating chunks).

    NOT safe for plain list/binary/string columns whose concatenated
    child length exceeds 2^31 (combine_chunks overflows the 32-bit
    offsets — hit at 3M x 768-d vectors = 2.3B child doubles); pass
    wide matrix columns to :func:`fixed_width_matrix` unconcatenated.
    """
    return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()


def _check_width(widths: np.ndarray, width: int | None) -> int:
    """The one row width of ``widths``, or ValueError."""
    if widths.size and widths.min() != widths.max():
        raise ValueError(
            f"ragged rows: widths {int(widths.min())}..{int(widths.max())}"
        )
    w = int(widths[0]) if widths.size else (width or 0)
    if width is not None and w != width:
        raise ValueError(f"row width {w}, expected {width}")
    return w


def fixed_width_matrix(col, width: int | None = None) -> np.ndarray:
    """(n, w) numpy matrix over a uniform-width pyarrow binary/list
    Array or ChunkedArray.

    Zero-copy for the data payload of an Array or a one-chunk column;
    several chunks are flattened as views and stacked (one memcpy) —
    ``combine_chunks`` would instead overflow Arrow's 32-bit list
    offsets past ~2.1B child elements, which a 3M x 768-d driver
    collect already exceeds. Empty input gives (0, ``width`` or 0).
    Raises ValueError on ragged rows, null rows, a width other than
    ``width``, or null values inside the referenced rows (nulls outside
    a slice's window are not looked at).
    """
    if isinstance(col, pa.ChunkedArray):
        mats = []
        for ch in [c for c in col.chunks if len(c)] or [pa.array([], col.type)]:
            mats.append(fixed_width_matrix(ch, width))
            width = mats[-1].shape[1]
        return mats[0] if len(mats) == 1 else np.vstack(mats)
    if col.null_count:
        raise ValueError(f"{col.null_count} null rows in a matrix column")
    n = len(col)
    if pa.types.is_binary(col.type) or pa.types.is_large_binary(col.type):
        off_dt = np.int64 if pa.types.is_large_binary(col.type) else np.int32
        bufs = col.buffers()
        offs = np.frombuffer(bufs[1], dtype=off_dt)[col.offset : col.offset + n + 1]
        w = _check_width(np.diff(offs), width)
        data = np.frombuffer(bufs[2], dtype=np.uint8)
        return data[offs[0] : offs[-1]].reshape(n, w)
    if pa.types.is_list(col.type) or pa.types.is_large_list(col.type):
        offs = col.offsets.to_numpy(zero_copy_only=False)
        w = _check_width(np.diff(offs), width)
        return _values_window(col, offs).reshape(n, w)
    raise ValueError(f"not a list or binary column: {col.type}")


def gather_rows(col, rows: np.ndarray, width: int, dtype) -> np.ndarray:
    """Rows ``rows`` of a matrix column (as :func:`fixed_width_matrix`)
    as a new ``dtype`` array, gathered chunk by chunk from its views."""
    chunks = col.chunks if isinstance(col, pa.ChunkedArray) else [col]
    out = np.empty((rows.size, width), dtype=dtype)
    ends = np.cumsum([len(c) for c in chunks], dtype=np.int64)
    which = np.searchsorted(ends, rows, side="right")
    by = np.argsort(which, kind="stable")
    cuts = np.searchsorted(which[by], np.arange(len(chunks) + 1))
    for k, ch in enumerate(chunks):
        dst = by[cuts[k]:cuts[k + 1]]
        if dst.size:
            out[dst] = fixed_width_matrix(ch, width)[rows[dst] - (ends[k] - len(ch))]
    return out


def _values_window(arr, offs: np.ndarray) -> np.ndarray:
    """numpy view of the child values that rows ``offs`` reference;
    ValueError on a null among them."""
    window = arr.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    if window.null_count:
        raise ValueError(f"{window.null_count} null values inside the rows")
    return window.to_numpy(zero_copy_only=False)


def collect_matrix(df, col: str) -> np.ndarray:
    """(n, d) float64 matrix of a uniform-width numeric array column of
    a Spark DataFrame, collected as Arrow batches (``toArrow``, which
    does not depend on the Arrow flag) — a 30k x 64 pickled-row collect
    measures seconds, the Arrow path tens of ms. Rows come in
    ``collect()`` order; float32→float64 widening is exact."""
    tbl = df.select(col).toArrow()
    return fixed_width_matrix(tbl.column(0)).astype(np.float64, copy=False)


def list_array(mat: np.ndarray):
    """pyarrow list array with one (d,) row per row of a numpy (n, d)
    matrix, keeping its dtype — the inverse of :func:`fixed_width_matrix`.

    The offsets are 32-bit (Spark's ``array<...>`` maps to a plain list):
    a matrix past 2^31 elements raises instead of wrapping."""
    n, d = mat.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int64), type=pa.int32()),
        pa.array(np.ascontiguousarray(mat).ravel()),
    )


def flat_values(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat_values, row_offsets) for a list array of scalars.

    ``row i`` owns ``flat[offs[i] : offs[i+1]]``. ValueError on null
    rows or null values inside them."""
    if arr.null_count:
        raise ValueError(f"{arr.null_count} null rows in a list column")
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    return _values_window(arr, offs), offs - offs[0]


def nested_matrix(arr, width: int | None = None):
    """Flatten a list<list<numeric>> array to ONE (N, w) matrix + offsets.

    Returns ``(mat, offs)`` where bucket ``i``'s rows are
    ``mat[offs[i] : offs[i+1]]`` — so a per-bucket GEMM kernel does zero
    per-bucket conversion work (one slice view each). ValueError on
    null buckets or when the inner rows are not a uniform-width matrix
    (:func:`fixed_width_matrix`)."""
    if arr.null_count:
        raise ValueError(f"{arr.null_count} null rows in a list column")
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
    # window the inner rows this (possibly sliced) outer array covers
    inner = arr.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    return fixed_width_matrix(inner, width), offs - offs[0]
