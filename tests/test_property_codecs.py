"""Property tests for the pure codec/arithmetic kernels — no Spark.

1. Epoch-ledger rollup (_normalize_epochs, shared by both sinks):
   membership is invariant under rollup, and the output is canonical —
   sorted, disjoint, non-adjacent ranges plus singletons outside them.
2. BMP/WAV decoders on corrupted payloads: every failure is the
   promised ValueError (task code must never leak ZeroDivisionError /
   struct.error / slice errors into a Spark executor), and successful
   decodes honor the header.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_gmaps_spark.operators.multimodal import (
    _decode_bmp,
    _decode_bmp_pixels,
    _decode_wav,
    _encode_bmp,
    _encode_wav,
    _resize_pixels,
)
from etl_gmaps_spark.tableio.snapshot_table import _normalize_epochs


@given(
    ranges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=100),
            st.integers(min_value=0, max_value=12),
        ),
        max_size=4,
    ),
    applied=st.sets(st.integers(min_value=0, max_value=100), max_size=40),
)
def test_rollup_epochs_invariants(ranges, applied):
    # arbitrary (possibly overlapping/empty) input ranges: the
    # normalizer must be exact on any input, not only on the
    # normalized lists the ledgers store
    ranges = [(b, b + ln) for b, ln in ranges]
    new_ranges, sparse = _normalize_epochs(ranges, applied)

    def member_before(e):
        return any(b <= e < w for b, w in ranges) or e in applied

    def member_after(e):
        return any(b <= e < w for b, w in new_ranges) or e in sparse

    # membership EXACT for every key: applied-before <=> applied-after
    # — nothing is ever claimed applied that wasn't (no resurrection of
    # skipped epochs), nothing applied is ever lost (no re-apply)
    for e in range(0, 120):
        assert member_before(e) == member_after(e), (e, ranges, applied)
    # canonical output: sorted, disjoint, non-adjacent, each len >= 2,
    # and no sparse member adjacent to (or inside) any range
    for (b1, w1), (b2, w2) in zip(new_ranges, new_ranges[1:]):
        assert w1 < b2
    for b, w in new_ranges:
        assert w - b >= 2
    for e in sparse:
        assert not any(b - 1 <= e <= w for b, w in new_ranges)


_mutations = st.lists(
    st.tuples(st.integers(min_value=0, max_value=10_000), st.integers(0, 255)),
    min_size=1,
    max_size=8,
)


def _mutate(payload: bytes, muts) -> bytes:
    b = bytearray(payload)
    for pos, val in muts:
        b[pos % len(b)] = val
    return bytes(b)


@settings(max_examples=200, deadline=None)
@given(
    media_id=st.integers(min_value=0, max_value=1000),
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=7),
    muts=_mutations,
)
def test_bmp_decode_never_leaks_raw_errors(media_id, w, h, muts):
    corrupted = _mutate(_encode_bmp(media_id, w, h), muts)
    try:
        got_w, got_h, b_sum, g_sum, r_sum = _decode_bmp(corrupted)
    except ValueError:
        return  # the promised failure mode
    # successful decode must honor the (possibly mutated) header
    assert got_w == int.from_bytes(corrupted[18:22], "little", signed=True)
    assert got_h == abs(int.from_bytes(corrupted[22:26], "little", signed=True))
    assert all(isinstance(v, int) and v >= 0 for v in (b_sum, g_sum, r_sum))


@settings(max_examples=200, deadline=None)
@given(
    media_id=st.integers(min_value=0, max_value=1000),
    w=st.integers(min_value=1, max_value=9),
    h=st.integers(min_value=1, max_value=7),
    muts=_mutations,
)
def test_bmp_pixel_decode_and_resize_never_leak_raw_errors(media_id, w, h, muts):
    """The RESIZE path's full-raster decoder must hold the same
    only-ValueError contract as _decode_bmp (r5 review: a zeroed width
    field used to pass the header checks and leak IndexError out of
    _resize_pixels inside the executor)."""
    corrupted = _mutate(_encode_bmp(media_id, w, h), muts)
    try:
        px = _decode_bmp_pixels(corrupted)
    except ValueError:
        return  # the promised failure mode
    got_w = int.from_bytes(corrupted[18:22], "little", signed=True)
    got_h = abs(int.from_bytes(corrupted[22:26], "little", signed=True))
    assert px.shape == (got_h, got_w, 3)
    # and the resize that consumes it stays total on whatever survived
    assert _resize_pixels(px, 6, 5, "nearest").shape == (5, 6, 3)
    assert _resize_pixels(px, 6, 5, "bilinear").shape == (5, 6, 3)


@settings(max_examples=60, deadline=None)
@given(
    media_id=st.integers(min_value=0, max_value=1000),
    n_ch=st.integers(min_value=1, max_value=2),
    n_frames=st.integers(min_value=1, max_value=40),
    cut=st.integers(min_value=1, max_value=16),
)
def test_wav_truncation_raises_not_clamps(media_id, n_ch, n_frames, cut):
    """A WAV cut mid-data must raise, not decode to fewer frames: a
    clamped data chunk LOOKS like a successful decode with wrong sums
    (r5 review). Cut at most the data chunk's own bytes so the header
    stays intact."""
    import pytest

    wav = _encode_wav(media_id, n_ch, 8000, n_frames)
    cut = min(cut, n_frames * n_ch * 2 - 1)
    with pytest.raises(ValueError):
        _decode_wav(wav[: len(wav) - cut])


@settings(max_examples=200, deadline=None)
@given(
    media_id=st.integers(min_value=0, max_value=1000),
    n_ch=st.integers(min_value=1, max_value=2),
    n_frames=st.integers(min_value=1, max_value=60),
    muts=_mutations,
)
def test_wav_decode_never_leaks_raw_errors(media_id, n_ch, n_frames, muts):
    wav = _encode_wav(media_id, n_ch, 8000, n_frames)
    corrupted = _mutate(wav, muts)
    try:
        ch, rate, frames, ch0, ch1 = _decode_wav(corrupted)
    except ValueError:
        return  # the promised failure mode
    assert ch >= 1 and frames >= 0
    assert (ch1 is None) == (ch == 1)
