import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from rust_timeseries_spark.functions import compression as C

I64 = np.iinfo(np.int64)


def _rt_int(arr):
    arr = np.asarray(arr, dtype=np.int64)
    blob = C.encode_dod_int64(arr)
    out = C.decode_dod_int64(blob)
    np.testing.assert_array_equal(out, arr)
    return blob


def _rt_f64(arr):
    arr = np.asarray(arr, dtype=np.float64)
    blob = C.encode_gorilla_f64(arr)
    out = C.decode_gorilla_f64(blob)
    np.testing.assert_array_equal(arr.view(np.uint64), out.view(np.uint64))
    return blob


# --- FIXTURES.md F-5 variants -------------------------------------------------

@pytest.mark.parametrize("n", [0, 1, 2, 1000, 4096])
def test_dod_constant(n):
    blob = _rt_int(np.full(n, 123456789, dtype=np.int64))
    if n >= 16:
        assert len(blob) < 8 * n / 4  # constant series ≫4x smaller


@pytest.mark.parametrize("step", [1, 12345, 60])
def test_dod_monotone(step):
    arr = np.arange(0, 4096 * step, step, dtype=np.int64)
    blob = _rt_int(arr)
    assert len(blob) < len(arr)  # ~1 bit/point after the first delta


def test_dod_random_and_extremes():
    rng = np.random.default_rng(42)
    _rt_int(rng.integers(0, 2**40, size=1000))
    _rt_int(np.array([I64.min, I64.max, 0, -1, 1, I64.min, I64.max]))
    _rt_int(rng.integers(I64.min // 2, I64.max // 2, size=257))


def test_dod_alternating():
    arr = np.empty(1000, dtype=np.int64)
    arr[0::2] = 1_000_000
    arr[1::2] = 3
    _rt_int(arr)


def test_gorilla_constant_and_repeats():
    blob = _rt_f64(np.full(1000, 3.14159))
    assert len(blob) < 200  # xor=0 path: ~1 bit/point
    _rt_f64(np.array([1.0, 1.0, 2.0, 2.0, 2.0, 1.5, 1.5]))


def test_gorilla_slowly_varying():
    t = np.arange(4096)
    # full-mantissa continuous data is a worst case for XOR codecs:
    # bounded overhead, exact round-trip
    blob = _rt_f64(np.sin(t / 100.0) * 100.0)
    assert len(blob) < 8 * 4096 * 1.25


def test_gorilla_integer_valued_floats():
    # the engine's real float payloads are often integer-valued (counter
    # sums cast to double): huge trailing-zero runs → strong compression
    rng = np.random.default_rng(42)
    arr = rng.integers(0, 100000, size=4096).astype(np.float64)
    blob = _rt_f64(arr)
    assert len(blob) < 8 * 4096 / 2


@pytest.mark.parametrize("scale", [-6, 0, 12])
def test_gorilla_random_scales(scale):
    rng = np.random.default_rng(42)
    _rt_f64(rng.normal(size=1000) * 10.0**scale)


def test_gorilla_specials():
    _rt_f64(np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, 1e308, 5e-324]))
    _rt_f64(np.array([]))
    _rt_f64(np.array([np.nan]))


# --- property tests -----------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=I64.min, max_value=I64.max), max_size=80))
def test_dod_property(xs):
    arr = np.array(xs, dtype=np.int64)
    np.testing.assert_array_equal(C.decode_dod_int64(C.encode_dod_int64(arr)), arr)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=80))
def test_gorilla_property(xs):
    arr = np.array(xs, dtype=np.float64)
    out = C.decode_gorilla_f64(C.encode_gorilla_f64(arr))
    np.testing.assert_array_equal(arr.view(np.uint64), out.view(np.uint64))


# --- Spark block round-trip ---------------------------------------------------

def test_spark_block_roundtrip(spark):
    from rust_timeseries_spark import datagen
    from rust_timeseries_spark.operators import compress, rollup

    df = datagen.with_event_time(datagen.token_table(spark, 3000))
    t1h = rollup.rollup_raw(df, "1h", epoch=True)
    blocks = compress.compress_tier(t1h, "1d")
    back = compress.decompress_blocks(blocks)
    a = t1h.select("source", "bucket_ts", "tok_sum", "tok_count", "tok_min", "tok_max")
    got = sorted([r["source"], *map(int, r[1:])] for r in back.select(*a.columns).collect())
    exp = sorted([r["source"], *map(int, r[1:])] for r in a.collect())
    assert got == exp
    rep = compress.compression_report(blocks).collect()[0]
    assert rep["ratio"] > 2.0


def test_compress_tier_arrow_identical(spark):
    # the mapInArrow encode path must produce EXACTLY the blocks the
    # grouped applyInPandas path produces — same groups, byte-identical
    # blobs — including when groups span Arrow batch boundaries (forced
    # here with a tiny maxRecordsPerBatch)
    from rust_timeseries_spark import datagen
    from rust_timeseries_spark.operators import compress, rollup

    df = datagen.with_event_time(datagen.token_table(spark, 3000))
    t1h = rollup.rollup_raw(df, "1h", epoch=True)

    def key(r):
        return (r["source"], r["block_start"])

    exp = {key(r): r.asDict() for r in compress.compress_tier(t1h, "1d").collect()}
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        for batch_size in ("10000", "7"):  # normal + boundary-splitting
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", batch_size)
            got = {key(r): r.asDict() for r in compress.compress_tier_arrow(t1h, "1d").collect()}
            assert set(got) == set(exp), batch_size
            for k in exp:
                assert got[k] == exp[k], (batch_size, k)
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


# --- native (compiled C) backend ----------------------------------------------
# byte/bit equivalence of the on-demand-compiled kernels vs the pure-
# Python reference paths. Skipped only where no C compiler exists.

native = pytest.importorskip("rust_timeseries_spark.native")
pytestmark_native = pytest.mark.skipif(
    not getattr(native, "HAVE_NATIVE", False), reason="no C compiler in environment"
)


@pytestmark_native
@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=I64.min, max_value=I64.max), max_size=80))
def test_native_dod_byte_identical(xs):
    arr = np.array(xs, dtype=np.int64)
    blob_py = C.encode_dod_int64_py(arr)
    assert native.encode_dod_int64(arr) == blob_py
    np.testing.assert_array_equal(native.decode_dod_int64(blob_py),
                                  C.decode_dod_int64_py(blob_py))


@pytestmark_native
@settings(max_examples=200, deadline=None)
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True, width=64), max_size=80))
def test_native_gorilla_byte_identical(xs):
    arr = np.array(xs, dtype=np.float64)
    blob_py = C.encode_gorilla_f64_py(arr)
    assert native.encode_gorilla_f64(arr) == blob_py
    np.testing.assert_array_equal(
        native.decode_gorilla_f64(blob_py).view(np.uint64),
        C.decode_gorilla_f64_py(blob_py).view(np.uint64),
    )


@pytestmark_native
def test_native_dod_extremes_and_bulk():
    rng = np.random.default_rng(11)
    cases = [
        np.array([I64.min, I64.max, 0, -1, 1], dtype=np.int64),
        np.cumsum(rng.integers(-3000, 3000, 50_000)).astype(np.int64),
        rng.integers(I64.min // 2, I64.max // 2, 10_000).astype(np.int64),
    ]
    for arr in cases:
        blob = C.encode_dod_int64_py(arr)
        assert native.encode_dod_int64(arr) == blob
        np.testing.assert_array_equal(native.decode_dod_int64(blob), arr)


@pytestmark_native
def test_native_gorilla_extremes_and_bulk():
    rng = np.random.default_rng(12)
    cases = [
        np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 5e-324, 1e308]),
        np.cumsum(rng.normal(size=50_000)),
        np.repeat(np.pi, 10_000),
    ]
    for arr in cases:
        a = np.asarray(arr, dtype=np.float64)
        blob = C.encode_gorilla_f64_py(a)
        assert native.encode_gorilla_f64(a) == blob
        np.testing.assert_array_equal(
            native.decode_gorilla_f64(blob).view(np.uint64), a.view(np.uint64)
        )


@pytestmark_native
def test_dispatch_uses_native_when_available():
    # the public names must route through the native backend when a
    # compiler exists (and stay byte-compatible with the _py paths)
    assert C._HAVE_NATIVE
    arr = np.arange(100, dtype=np.int64) * 7
    assert C.encode_dod_int64(arr) == C.encode_dod_int64_py(arr)


@pytestmark_native
def test_native_decode_rejects_truncated_and_accepts_bytearray():
    arr = np.arange(64, dtype=np.int64) * 1000
    blob = C.encode_dod_int64(arr)
    # truncated blobs must error (the Python path raises IndexError from
    # BitReader indexing; the native path bounds-checks and mirrors it)
    for cut in (1, 6, len(blob) - 1):
        with pytest.raises(IndexError):
            native.decode_dod_int64(blob[:cut])
        with pytest.raises(IndexError):
            C.decode_dod_int64_py(blob[:cut])
    g = C.encode_gorilla_f64(np.cumsum(np.ones(64)))
    with pytest.raises(IndexError):
        native.decode_gorilla_f64(g[: len(g) - 1])
    # PySpark collect() hands BinaryType columns over as bytearray —
    # both input types must decode
    np.testing.assert_array_equal(native.decode_dod_int64(bytearray(blob)), arr)
    np.testing.assert_array_equal(
        native.decode_gorilla_f64(bytearray(g)), C.decode_gorilla_f64_py(g)
    )


@pytestmark_native
def test_native_gorilla_rejects_malformed_window_header():
    # ADVICE r3: a crafted blob whose new-window header claims
    # lead + meaningful > 64 must ERROR on both paths — the native
    # decoder used to clamp the shift to 0 and return silently
    # corrupted values while Python raised
    w = C.BitWriter()
    w.write(0x02, 8)  # varint count = 2
    w.write(np.float64(1.0).view(np.uint64).item(), 64)  # first value
    w.write(1, 1)  # diff nonzero
    w.write(1, 1)  # new window
    w.write(31, 5)  # lead = 31
    w.write(40, 6)  # mean = 40 → lead+mean = 71 > 64: malformed
    w.write(0, 40)  # payload bits (present, so only the header is bad)
    blob = w.getvalue()
    with pytest.raises(ValueError):
        C.decode_gorilla_f64_py(blob)
    with pytest.raises(IndexError):
        native.decode_gorilla_f64(blob)


@pytestmark_native
def test_native_cache_dir_refuses_unsafe_ownership(tmp_path, monkeypatch):
    import rust_timeseries_spark.native as N

    unsafe = tmp_path / "spoofed"
    unsafe.mkdir(mode=0o777)
    import os as _os
    _os.chmod(unsafe, 0o777)  # umask-proof: explicitly world-writable
    monkeypatch.setenv("RTS_NATIVE_CACHE", str(unsafe))
    with pytest.raises(OSError, match="unsafe native cache"):
        N._cache_dir()


def test_compress_tier_arrow_null_keys_match_grouped(spark):
    # ADVICE r4: a null key must form ONE group in the arrow path (the
    # change-point scan null-masks the compare), exactly as the grouped
    # applyInPandas path groups nulls — both for string and numeric keys
    from pyspark.sql import functions as F

    from rust_timeseries_spark import datagen
    from rust_timeseries_spark.operators import compress, rollup

    df = datagen.with_event_time(datagen.token_table(spark, 1200))
    t1h = rollup.rollup_raw(df, "1h", epoch=True)
    for null_key in [
        F.when(F.col("source") == "web", None).otherwise(F.col("source")),
        F.when(F.col("source") == "web", None).otherwise(F.length("source")).cast("long"),
    ]:
        t = t1h.withColumn("source", null_key)

        def key(r):
            return (r["source"], r["block_start"])

        exp = {key(r): r.asDict() for r in compress.compress_tier(t, "1d").collect()}
        assert any(k[0] is None for k in exp), "fixture lost its null group"
        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        try:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
            got = {key(r): r.asDict() for r in compress.compress_tier_arrow(t, "1d").collect()}
        finally:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
        assert got == exp


def test_compress_tier_arrow_nan_float_keys(spark):
    # review r5: a real (non-null) NaN float key must form ONE group per
    # block in the arrow path, mirroring Spark SQL's NaN-canonicalizing
    # groupBy. (The grouped applyInPandas path cannot express this
    # fixture at all — Spark raises "Value at index is null" when an
    # applyInPandas grouping key is NaN — so the NaN group is pinned
    # against a direct recompute and the non-NaN groups against
    # compress_tier on the NaN-free subset.)
    from pyspark.sql import functions as F

    from rust_timeseries_spark import datagen
    from rust_timeseries_spark.operators import compress, rollup

    df = datagen.with_event_time(datagen.token_table(spark, 900))
    t1h = rollup.rollup_raw(df, "1h", epoch=True)
    t = t1h.withColumn(
        "source",
        F.when(F.col("source") == "web", F.lit(float("nan")))
        .otherwise(F.length("source").cast("double")),
    )
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        rows = compress.compress_tier_arrow(t, "1d").collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    nan_rows = [r for r in rows if r["source"] != r["source"]]
    nan_days = t.where(F.isnan("source")).select(
        (F.col("bucket_ts") - F.col("bucket_ts") % 86400).alias("d")
    ).distinct().count()
    # exactly one block per (NaN, day): adjacent NaN keys did not split
    assert len(nan_rows) == nan_days > 0
    assert len({r["block_start"] for r in nan_rows}) == len(nan_rows)
    # point totals conserved for the NaN group
    n_nan_points = t.where(F.isnan("source")).count()
    assert sum(r["n_points"] for r in nan_rows) == n_nan_points

    # non-NaN groups byte-match the grouped path on the NaN-free subset
    sub = t.where(~F.isnan("source"))
    exp = {(r["source"], r["block_start"]): r.asDict()
           for r in compress.compress_tier(sub, "1d").collect()}
    got = {(r["source"], r["block_start"]): r.asDict()
           for r in rows if r["source"] == r["source"]}
    assert got == exp
