"""The buffer-level Arrow column helpers of model.py: equal to pa.array
(and to_numpy) on seeded random input, valid under full validation, and
failing where pa.array fails, with the same exception types."""

import random

import numpy as np
import pyarrow as pa
import pytest

from docling_fast_server_spark.model import list_array, np_values, numeric_array, string_array

ALPHABET = ["a", "b", " ", "\x00", "é", "ß", "中", "😀", "\n"]


def _text(rng):
    return "".join(rng.choice(ALPHABET) for _ in range(rng.randint(0, 6)))


def _column(rng, make):
    n = rng.choice([0, 1, rng.randint(2, 40)])
    return [None if rng.random() < 0.2 else make(rng) for _ in range(n)]


def test_string_and_binary_columns_equal_pa_array():
    rng = random.Random(16)
    for _ in range(300):
        values = _column(rng, _text)
        if rng.random() < 0.3:  # ASCII-only batches take the fast path
            values = [v if v is None else v.encode("ascii", "ignore").decode() for v in values]
        got = string_array(values)
        got.validate(full=True)
        assert got.equals(pa.array(values, pa.string())), values
        raw = [v if v is None else v.encode() for v in values]
        got = string_array(raw, binary=True)
        got.validate(full=True)
        assert got.equals(pa.array(raw, pa.binary())), raw
    arrow = pa.array(["x", None])
    assert string_array(arrow) is arrow


@pytest.mark.parametrize("type_", [pa.int32(), pa.int64(), pa.float64()])
def test_numeric_columns_equal_pa_array(type_):
    rng = random.Random(17)
    lo, hi = (-(2**31), 2**31 - 1) if type_ == pa.int32() else (-(2**63), 2**63 - 1)
    for _ in range(200):
        values = _column(rng, lambda r: r.choice([0, 1, -1, lo, hi, r.randint(lo, hi)]))
        if type_ == pa.float64():
            values = [v if v is None else v / 7 for v in values]
        got = numeric_array(values, type_)
        got.validate(full=True)
        assert got.equals(pa.array(values, type_)), values
        dense = np.array([0 if v is None else v for v in values], dtype=type_.to_pandas_dtype())
        got = numeric_array(dense[::2], type_)  # a strided view
        got.validate(full=True)
        assert got.equals(pa.array(dense[::2], type_))
    mask = np.array([True, False, True])
    got = numeric_array(np.array([5, -1, 7]), pa.int64(), valid=mask)
    assert got.to_pylist() == [5, None, 7]


def test_list_columns_equal_pa_array():
    rng = random.Random(18)
    for _ in range(200):
        rows = _column(rng, lambda r: [r.randint(-5, 5) for _ in range(r.choice([0, 0, 1, 3]))])
        ends = np.cumsum([0] + [len(r or ()) for r in rows])
        values = numeric_array([x for r in rows if r for x in r], pa.int64())
        valid = np.array([r is not None for r in rows], dtype=bool)
        got = list_array(ends, values, valid)
        got.validate(full=True)
        assert got.equals(pa.array(rows, pa.list_(pa.int64()))), rows
        words = [[_text(rng) for _ in range(len(r))] if r is not None else None for r in rows]
        got = list_array(ends, string_array([w for r in words if r for w in r]), valid)
        got.validate(full=True)
        assert got.equals(pa.array(words, pa.list_(pa.string()))), words


def test_np_values_reads_like_to_numpy():
    rng = random.Random(19)
    for _ in range(200):
        values = _column(rng, lambda r: r.randint(-(2**31), 2**31 - 1))
        arr = pa.array(values, pa.int32())
        a, z = sorted(rng.randint(0, len(values)) for _ in range(2))
        part = arr.slice(a, z - a)  # a nonzero offset into the buffers
        if part.null_count:
            with pytest.raises(ValueError, match="NULL"):
                np_values(part)
        filled = [0 if v is None else v for v in values[a:z]]
        got = np_values(part, fill=0)
        assert got.dtype == np.int32 and got.tolist() == filled
        flags = pa.array([None if v is None else v % 2 == 0 for v in values], pa.bool_())
        flags = flags.slice(a, z - a)
        want = [bool(v) for v in flags.to_pylist()]
        assert np_values(flags, fill=False).tolist() == want
        floats = pa.array([None if v is None else v / 3 for v in values], pa.float64())
        got = np_values(floats.slice(a, z - a), fill=np.nan)
        np.testing.assert_array_equal(got, floats.slice(a, z - a).to_numpy(zero_copy_only=False))


def test_out_of_range_integers_raise_like_pa_array():
    # numpy 1.26 would wrap 2**31 into int32 as -2147483648 with only a warning
    for bad in ([2**31], [-(2**31) - 1], np.array([2**31]), np.array([0, 2**40])):
        with pytest.raises(pa.ArrowInvalid):
            pa.array(bad, pa.int32())
        with pytest.raises(pa.ArrowInvalid, match="not in range"):
            numeric_array(bad, pa.int32())
    with pytest.raises(pa.ArrowInvalid, match="not in range"):
        numeric_array(np.array([2**63], dtype=np.uint64), pa.int64())
    with pytest.raises(pa.ArrowInvalid, match="not in range"):
        list_array([0, 2**31], pa.array([1]))  # offsets past int32
    with pytest.raises(pa.ArrowTypeError):
        numeric_array(np.array([True]), pa.int32())


def test_wrong_typed_and_unencodable_strings_raise_like_pa_array():
    for bad in (["ok", 123], [None, 1.5], [["nested"]]):
        with pytest.raises(pa.ArrowTypeError):
            pa.array(bad, pa.string())
        with pytest.raises(pa.ArrowTypeError, match="Expected str"):
            string_array(bad)
    with pytest.raises(pa.ArrowTypeError, match="Expected bytes"):
        string_array([b"ok", "text"], binary=True)
    for bad in (["a\ud800"], ["ok", None, "\udfff z"]):
        with pytest.raises(UnicodeEncodeError):
            pa.array(bad, pa.string())
        with pytest.raises(UnicodeEncodeError):
            string_array(bad)
