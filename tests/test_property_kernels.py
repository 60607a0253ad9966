"""Hypothesis property tests for the byte-level kernels — the scalar
models and the vectorized/codec implementations must agree on arbitrary
inputs, not just the pinned vectors."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=200, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=32))
def test_murmur3_batch_matches_scalar_model(payloads):
    from cql_xmlpipe_spark.functions.murmur3 import _murmur3_batch, murmur3_token_py

    got = _murmur3_batch(payloads)
    for g, p in zip(got, payloads):
        assert g == murmur3_token_py(p)


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=64))
def test_murmur3_token_in_long_range_and_never_min(data):
    """Partitioner tokens are signed 64-bit with Long.MIN normalized away."""
    from cql_xmlpipe_spark.functions.murmur3 import murmur3_token_py

    t = murmur3_token_py(data)
    assert -(2**63) < t <= 2**63 - 1


@settings(max_examples=100, deadline=None)
@given(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_bmp_roundtrip_any_dims(w, h, seed):
    from cql_xmlpipe_spark.functions.bmpcodec import decode_bmp, encode_bmp

    px = np.random.RandomState(seed).randint(0, 256, size=(h, w, 3), dtype=np.uint8)
    out = encode_bmp(px)
    # header invariants of the public layout
    assert out[:2] == b"BM" and len(out) == 54 + ((w * 3 + 3) & ~3) * h
    assert (decode_bmp(out) == px).all()


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=40), st.integers(min_value=-(2**31), max_value=2**31 - 1))
def test_sdbm_scalar_vs_vectorized(s, base):
    """The numpy matmul sdbm path must equal the per-char scalar model for
    arbitrary unicode strings (UTF-16 code-unit semantics) and bases."""
    import pandas as pd

    from cql_xmlpipe_spark.functions.dockey import _sdbm_batch, sdbm_key_py

    # same conversion the production UDF applies: int64 -> uint64 view
    got = _sdbm_batch(np.array([base], dtype=np.int64).view(np.uint64), pd.Series([s]))
    assert int(got[0]) == sdbm_key_py(base, s)


@settings(max_examples=150, deadline=None)
@given(
    st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=512),
    st.sampled_from([8000, 16000, 22050, 44100, 3]),
)
def test_wav_roundtrip_any_samples(samples, rate):
    """encode_wav -> decode_wav identity for arbitrary int16 content and
    rates, including pathological rate=3 and extreme sample values."""
    import numpy as np

    from cql_xmlpipe_spark.functions.wavcodec import decode_wav, encode_wav

    s = np.array(samples, np.int16)
    got, got_rate = decode_wav(encode_wav(s, rate))
    assert got_rate == rate and (got == s).all()


@settings(max_examples=150, deadline=None)
@given(
    st.integers(min_value=1, max_value=6),    # queries
    st.integers(min_value=1, max_value=60),   # candidate rows
    st.integers(min_value=1, max_value=8),    # shortlist
    st.integers(min_value=0, max_value=2**32 - 1),
)
def test_adc_band_cut_never_loses_a_shortlist_member(nq, nr, shortlist, seed):
    """The numpy band cut (_make_adc_band_cut — the volume-control stage
    of the exact top-k, PQ and IVF-PQ shortlist kernels) must be a
    SUPERSET filter: for every query, all rows in the true per-query
    shortlist by (adc asc, id asc) survive the cut — ties at the
    boundary included. The same holds for the whole band-shortlist
    kernel (_band_shortlist) fed the same triples in tiny row chunks
    with a tiny compaction budget, so its chunk keep, accumulation and
    compaction are all exercised. Correctness of the final output rides
    the exact re-cut; this pins the invariant that makes the re-cut
    sufficient."""
    from cql_xmlpipe_spark.operators.similarity import (
        _band_shortlist,
        _make_adc_band_cut,
    )

    rng = np.random.default_rng(seed)
    qi = rng.integers(0, nq, size=nr)
    bid = rng.permutation(nr)  # unique ids
    # quantized scores force plenty of exact ties at the boundary
    ba = rng.integers(0, 6, size=nr).astype(np.float64)
    kq, kb, _ = _make_adc_band_cut(shortlist)(qi.copy(), bid.copy(), ba.copy())
    kept_by_cut = set(zip(kq.tolist(), kb.tolist()))

    chunk = int(rng.integers(1, nr + 1))

    def chunks():
        # dense queries × rows score blocks, +inf where a row is not
        # the query's candidate
        for lo in range(0, nr, chunk):
            rows = np.arange(lo, min(lo + chunk, nr))
            score = np.full((nq, len(rows)), np.inf)
            score[qi[rows], np.arange(len(rows))] = ba[rows]
            yield np.arange(nq), bid[rows], score

    got = _band_shortlist(chunks(), shortlist, nq, min_compact=1)
    kept_by_kernel = set() if got is None else set(zip(got[0].tolist(), got[1].tolist()))
    for q in range(nq):
        rows = sorted(
            ((ba[i], bid[i]) for i in range(nr) if qi[i] == q)
        )
        if not rows:
            continue
        cutoff = rows[min(shortlist, len(rows)) - 1][0]
        for a, b in rows:
            if a > cutoff:
                continue
            # every true-shortlist row and its ties
            for stage, kept in (("cut", kept_by_cut), ("kernel", kept_by_kernel)):
                assert (q, b) in kept, (
                    f"{stage}: query {q}: row id={b} adc={a} inside the "
                    f"shortlist-{shortlist} band (cutoff {cutoff}) was cut"
                )
