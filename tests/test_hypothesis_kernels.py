"""Property-based tests (hypothesis) for the pure Arrow-batch kernels.

These kernels are plain functions of pandas batches — no JVM involved —
so hypothesis can hammer them with adversarial inputs far beyond what
the committed fixtures contain: random binary payloads (every byte
value, repeated windows, boundary-straddling patterns), degenerate
sizes, and structured edits. Each optimized/vectorized kernel is checked
against an independently-written naive reference implementation derived
from the documented CONTRACT (rolling-hash boundary rule, frame grid,
PCM formula), not from the kernel's code — the classic
naive-vs-optimized differential that catches vectorization off-by-ones
(window alignment, the dropped final window, hex-case drift) which
corpus fixtures only hit by luck.

The Spark-side plumbing and engine-vs-DuckDB parity for the same kernels
are covered by tests/test_multimodal_edge.py and the registry-wide
oracle diff; this file pins the KERNEL math itself.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from pythonmapreduce_spark.pipeline.multimodal import (
    _CDC_MASK,
    _CDC_WINDOW,
    _FRAME_STRIDE,
    _cdc_chunk_hashes,
    _extract_features,
    _sample_frames,
    _wav_roundtrip,
)

# ---------------------------------------------------------------------------
# CDC chunking: vectorized sliding_window_view kernel vs a byte-at-a-time
# reference built from the documented boundary rule (8-byte polynomial
# base-31 rolling hash == 0 mod 64 ends a chunk; the window ending exactly
# at the payload end never cuts — the final chunk ends there anyway).
# ---------------------------------------------------------------------------


def _ref_cdc_cuts(b: bytes) -> list[int]:
    cuts = [0]
    n = len(b)
    for i in range(_CDC_WINDOW, n):  # window = bytes [i-8, i); i == n excluded
        h = 0
        for x in b[i - _CDC_WINDOW : i]:
            h = h * 31 + x
        if h % _CDC_MASK == 0:
            cuts.append(i)
    cuts.append(n)
    return cuts


def _ref_cdc_hashes(b: bytes) -> list[str]:
    cuts = _ref_cdc_cuts(b)
    return [
        hashlib.sha256(b[a:c].hex().upper().encode()).hexdigest()
        for a, c in zip(cuts, cuts[1:])
    ]


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=1, max_size=2048))
def test_cdc_kernel_matches_naive_reference(payload: bytes) -> None:
    pdf = pd.DataFrame({"doc_id": [1], "payload": [payload]})
    (out,) = list(_cdc_chunk_hashes(iter([pdf])))
    assert list(out["chunk_hash"]) == _ref_cdc_hashes(payload)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=1, max_size=512))
def test_cdc_chunks_reassemble_exactly(payload: bytes) -> None:
    # boundaries partition the payload: contiguous, in-order, lossless
    cuts = _ref_cdc_cuts(payload)
    assert cuts[0] == 0 and cuts[-1] == len(payload)
    assert cuts == sorted(set(cuts))
    assert b"".join(payload[a:c] for a, c in zip(cuts, cuts[1:])) == payload


@settings(max_examples=100, deadline=None)
@given(
    st.binary(min_size=0, max_size=128),
    st.binary(min_size=0, max_size=128),
    st.binary(min_size=64, max_size=1024),
)
def test_cdc_resynchronizes_after_prefix_edit(
    pre_a: bytes, pre_b: bytes, suffix: bytes
) -> None:
    # THE property that makes CDC better than a fixed grid: two payloads
    # sharing a suffix produce identical chunks from the first boundary
    # that lies >= one full window into the shared suffix — a prefix edit
    # (insert/delete/rewrite) cannot shift boundaries downstream of
    # resynchronization, so shared content still dedups. (A fixed-grid
    # chunker fails this for any len(pre_a) % 64 != len(pre_b) % 64.)
    def resynced_chunks(b: bytes, prefix_len: int) -> list[bytes]:
        kept = [c for c in _ref_cdc_cuts(b) if c >= prefix_len + _CDC_WINDOW]
        return [b[a:c] for a, c in zip(kept, kept[1:])]

    a, b = pre_a + suffix, pre_b + suffix
    assert resynced_chunks(a, len(pre_a)) == resynced_chunks(b, len(pre_b))


# ---------------------------------------------------------------------------
# Frame sampler: numpy strided checksum vs naive per-frame loops.
# ---------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=1024), st.integers(min_value=1, max_value=64))
def test_frame_sampler_matches_naive_reference(payload: bytes, width: int) -> None:
    pdf = pd.DataFrame(
        {
            "doc_id": [7],
            "payload": [payload],
            "meta": [{"width": width, "height": 1, "channels": 3}],
        }
    )
    (out,) = list(_sample_frames(iter([pdf])))
    nb = len(payload)
    n_frames = -(-nb // width) if nb else 0
    sampled = list(range(0, n_frames, _FRAME_STRIDE))
    checksum = sum(sum(payload[i * width : (i + 1) * width]) for i in sampled)
    assert list(out.itertuples(index=False, name=None)) == [
        (7, n_frames, len(sampled), checksum)
    ]


# ---------------------------------------------------------------------------
# Feature extractor: mean_byte must be ROUND-HALF-AWAY-FROM-ZERO at 4
# decimals (the SQL ROUND contract both engines agree on), over bytes.
# ---------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(st.binary(min_size=0, max_size=1000))
def test_feature_mean_byte_rounding_contract(payload: bytes) -> None:
    pdf = pd.DataFrame(
        {
            "doc_id": [3],
            "payload": [payload],
            "meta": [{"width": 40, "height": 30, "channels": 3}],
        }
    )
    (out,) = list(_extract_features(iter([pdf])))
    if not payload:
        want = 0.0
    else:
        m = sum(payload) / len(payload)  # exact: integer sum < 2^53
        want = float(np.floor(m * 10000 + 0.5) / 10000)
    assert out["mean_byte"][0] == want
    assert out["n_bytes"][0] == len(payload)


# ---------------------------------------------------------------------------
# WAV codec round trip: REAL stdlib encode→decode for arbitrary ids/frame
# counts — header fields, canonical container size, and the PCM checksum
# must all hold far outside the fixture's (n_chars % 256 + 16) range.
# ---------------------------------------------------------------------------


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31 - 1),
    st.integers(min_value=1, max_value=400),
)
def test_wav_roundtrip_properties(doc_id: int, n: int) -> None:
    pdf = pd.DataFrame({"doc_id": [doc_id], "n": [n]})
    (out,) = list(_wav_roundtrip(iter([pdf])))
    row = next(out.itertuples(index=False))
    assert row.n_frames == n
    assert row.n_channels == 1 and row.sampwidth == 2 and row.framerate == 8000
    assert row.container_bytes == 44 + 2 * n
    assert row.checksum == sum(
        (doc_id * 31 + i * 17) % 65536 - 32768 for i in range(n)
    )


# ---------------------------------------------------------------------------
# Resize kernel: geometry invariants over arbitrary payloads/dims (the
# full grid is internal; the kernel's observable outputs are the corner
# sample — payload byte 0 under the modular tiling — and the fixed
# dst_w*dst_h output size).
# ---------------------------------------------------------------------------


@settings(max_examples=150, deadline=None)
@given(
    st.binary(min_size=1, max_size=512),
    st.integers(min_value=1, max_value=100),
    st.integers(min_value=1, max_value=100),
)
def test_resize_kernel_geometry(payload: bytes, w: int, h: int) -> None:
    from pythonmapreduce_spark.pipeline.multimodal import (
        _DST_H,
        _DST_W,
        _resize_batches,
    )

    pdf = pd.DataFrame(
        {
            "doc_id": [5],
            "payload": [payload],
            "meta": [{"width": w, "height": h, "channels": 3}],
        }
    )
    (out,) = list(_resize_batches(iter([pdf])))
    row = next(out.itertuples(index=False))
    assert (row.src_w, row.src_h) == (w, h)
    assert (row.dst_w, row.dst_h) == (_DST_W, _DST_H)
    assert row.resized_len == _DST_W * _DST_H
    assert row.corner_byte == payload[0]
