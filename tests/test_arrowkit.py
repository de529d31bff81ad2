"""arrowkit: zero-copy pyarrow->numpy bridges used by every Arrow kernel.

The fast paths must reproduce the per-row values exactly, and the
guards must raise ValueError on every layout the fast path cannot
represent — a wrong matrix here silently corrupts ANN distances. No
Spark session needed.
"""

import pathlib

import numpy as np
import pyarrow as pa
import pytest

from mindb_spark.arrowkit import (
    fixed_width_matrix,
    flat_values,
    list_array,
    nested_matrix,
    one_chunk,
)


def test_fixed_width_list_roundtrip():
    rows = [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    mat = fixed_width_matrix(pa.array(rows, type=pa.list_(pa.float64())))
    assert mat.tolist() == rows


def test_fixed_width_list_sliced():
    arr = pa.array([[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]).slice(1, 2)
    assert fixed_width_matrix(arr).tolist() == [[3.0, 4.0], [5.0, 6.0]]


def test_fixed_width_binary_roundtrip_and_slice():
    arr = pa.array([b"ab", b"cd", b"ef"], type=pa.binary())
    assert fixed_width_matrix(arr, 2).tobytes() == b"abcdef"
    assert fixed_width_matrix(arr.slice(1, 2), 2).tobytes() == b"cdef"


def test_ragged_and_null_refused():
    with pytest.raises(ValueError, match="ragged"):
        fixed_width_matrix(pa.array([[1.0], [2.0, 3.0]]))
    with pytest.raises(ValueError, match="null rows"):
        fixed_width_matrix(pa.array([[1.0, 2.0], None]))
    with pytest.raises(ValueError, match="null values"):
        fixed_width_matrix(pa.array([[1.0, None]]))
    with pytest.raises(ValueError, match="ragged"):
        fixed_width_matrix(pa.array([b"a", b"bc"], type=pa.binary()))
    # declared width must match
    with pytest.raises(ValueError, match="expected 3"):
        fixed_width_matrix(pa.array([[1.0, 2.0]]), 3)


def test_slice_ignores_nulls_outside_window():
    arr = pa.array([[1.0, None], [2.0, 3.0], None])
    assert fixed_width_matrix(arr.slice(1, 1)).tolist() == [[2.0, 3.0]]
    with pytest.raises(ValueError, match="null values"):
        fixed_width_matrix(arr.slice(0, 2))
    flat, offs = flat_values(arr.slice(1, 1))
    assert flat.tolist() == [2.0, 3.0] and offs.tolist() == [0, 2]
    nested = pa.array([[[1.0, None]], [[2.0, 3.0]]])
    mat, offs = nested_matrix(nested.slice(1))
    assert mat.tolist() == [[2.0, 3.0]] and offs.tolist() == [0, 1]


def test_empty_arrays():
    m = fixed_width_matrix(pa.array([], type=pa.list_(pa.float64())), 4)
    assert m.shape == (0, 4)
    b = fixed_width_matrix(pa.array([], type=pa.binary()), 8)
    assert b.shape == (0, 8)


def test_flat_values_windows_slices():
    arr = pa.array([[1, 2, 3], [4], [5, 6]], type=pa.list_(pa.int64()))
    flat, offs = flat_values(arr)
    assert flat.tolist() == [1, 2, 3, 4, 5, 6] and offs.tolist() == [0, 3, 4, 6]
    flat, offs = flat_values(arr.slice(1, 2))
    assert flat.tolist() == [4, 5, 6] and offs.tolist() == [0, 1, 3]


def test_nested_matrix_buckets():
    buckets = [
        [[1.0, 0.0], [0.0, 1.0]],          # bucket 0: 2 rows
        [[2.0, 2.0]],                       # bucket 1: 1 row
        [[3.0, 3.0], [4.0, 4.0], [5.0, 5.0]],
    ]
    arr = pa.array(buckets, type=pa.list_(pa.list_(pa.float64())))
    mat, offs = nested_matrix(arr)
    assert offs.tolist() == [0, 2, 3, 6]
    assert mat[offs[1] : offs[2]].tolist() == [[2.0, 2.0]]
    assert mat[offs[2] : offs[3]].tolist() == buckets[2]
    # sliced outer array: offsets re-window, matrix covers only the slice
    mat2, offs2 = nested_matrix(arr.slice(1, 2))
    assert offs2.tolist() == [0, 1, 4]
    assert mat2.tolist() == [[2.0, 2.0]] + buckets[2]


def test_nested_matrix_refuses_ragged_inner():
    arr = pa.array([[[1.0, 2.0]], [[3.0]]], type=pa.list_(pa.list_(pa.float64())))
    with pytest.raises(ValueError, match="ragged"):
        nested_matrix(arr)


def test_one_chunk_concatenates():
    t = pa.Table.from_batches(
        [
            pa.RecordBatch.from_arrays([pa.array([1, 2])], ["x"]),
            pa.RecordBatch.from_arrays([pa.array([3])], ["x"]),
        ]
    )
    assert one_chunk(t.column("x")).to_pylist() == [1, 2, 3]


def test_fixed_width_matrix_chunked_stacks_chunks():
    c = pa.chunked_array(
        [
            pa.array([[1.0, 2.0], [3.0, 4.0]], type=pa.list_(pa.float64())),
            pa.array([[5.0, 6.0]], type=pa.list_(pa.float64())),
        ]
    )
    mat = fixed_width_matrix(c, 2)
    assert mat.tolist() == [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]
    # the width is inferred from the first chunk when not declared
    assert fixed_width_matrix(c).shape == (3, 2)
    # binary flavor
    cb = pa.chunked_array(
        [pa.array([b"ab", b"cd"]), pa.array([b"ef"])]
    )
    mb = fixed_width_matrix(cb, 2)
    assert mb.tobytes() == b"abcdef" and mb.shape == (3, 2)


def test_fixed_width_matrix_chunked_single_chunk_is_view():
    c = pa.chunked_array([pa.array([[1.0, 2.0]], type=pa.list_(pa.float64()))])
    mat = fixed_width_matrix(c, 2)
    assert mat.shape == (1, 2) and not mat.flags.owndata  # zero-copy view


def test_fixed_width_matrix_chunked_ragged_raises_empty_is_zero_rows():
    ragged = pa.chunked_array(
        [
            pa.array([[1.0, 2.0]], type=pa.list_(pa.float64())),
            pa.array([[3.0]], type=pa.list_(pa.float64())),
        ]
    )
    with pytest.raises(ValueError):
        fixed_width_matrix(ragged, 2)
    # chunks that disagree on the width are ragged even undeclared
    with pytest.raises(ValueError):
        fixed_width_matrix(ragged)
    empty = pa.chunked_array([], type=pa.list_(pa.float64()))
    assert fixed_width_matrix(empty, 2).shape == (0, 2)
    # an empty chunk between full ones must not poison the stack
    holey = pa.chunked_array(
        [
            pa.array([[1.0, 2.0]], type=pa.list_(pa.float64())),
            pa.array([], type=pa.list_(pa.float64())),
            pa.array([[3.0, 4.0]], type=pa.list_(pa.float64())),
        ]
    )
    assert fixed_width_matrix(holey, 2).tolist() == [[1.0, 2.0], [3.0, 4.0]]


def test_list_array_inverts_fixed_width_matrix():
    for dt, pa_t in ((np.float32, pa.float32()), (np.float64, pa.float64())):
        mat = np.arange(12, dtype=dt).reshape(4, 3)
        arr = list_array(mat)
        assert arr.type == pa.list_(pa_t)
        assert arr.to_pylist() == mat.tolist()
        assert np.array_equal(fixed_width_matrix(arr, 3), mat)
    # a non-contiguous view is laid out row by row
    mat = np.arange(12, dtype=np.float32).reshape(3, 4)[:, ::2]
    assert list_array(mat).to_pylist() == mat.tolist()
    assert len(list_array(np.empty((0, 5), dtype=np.float32))) == 0


def test_no_row_fallback_in_package():
    """Matrix columns decode through arrowkit or raise; no module keeps
    its own per-row ``to_pylist`` fallback."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "mindb_spark"
    offenders = [
        str(p.relative_to(pkg.parent))
        for p in sorted(pkg.rglob("*.py"))
        if "to_pylist(" in p.read_text(encoding="utf-8")
    ]
    assert offenders == []
