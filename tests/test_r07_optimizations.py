"""Focused pins for the round-7 optimization rewrites: each changed
operator internal is asserted equal to a straightforward reference
formulation (the pre-optimization shape), so a future regression in the
optimized plan shows up here, not only in the slow oracle gates."""

from __future__ import annotations

import pytest


# --- WAND decode memo: cached decode identical to fresh decode ----------


def test_decode_memo_matches_fresh_decode():
    import numpy as np

    from information_retrieval_system_spark.index.compression import (
        vbyte_decode, vbyte_encode)
    from information_retrieval_system_spark.query import wand

    wand._DECODE_VALS.clear(); wand._DECODE_DOCS.clear()
    gaps = [3, 1, 4, 1, 5, 9, 2, 6]
    vb = bytes(vbyte_encode(gaps))
    fresh_vals = vbyte_decode(vb)
    fresh_docs = np.cumsum(fresh_vals, dtype=np.uint64)
    assert list(wand._cached_vals(vb)) == list(fresh_vals)
    assert list(wand._cached_docs(vb)) == list(fresh_docs)
    # second call returns the SAME array object (memo hit), values intact
    again = wand._cached_docs(vb)
    assert again is wand._DECODE_DOCS[vb]
    assert list(again) == list(fresh_docs)
    # a different payload must not collide
    vb2 = bytes(vbyte_encode([7, 7]))
    assert list(wand._cached_vals(vb2)) == [7, 7]

    # cached arrays are read-only: a kernel cannot corrupt a later query
    for arr in (wand._cached_vals(vb), wand._cached_docs(vb)):
        assert not arr.flags.writeable
        with pytest.raises(ValueError):
            arr[0] = 0

    # the memo is bounded by BYTES and evicts oldest-first
    memo = wand._DecodeMemo(vbyte_decode, max_bytes=10 * 8)  # ten uint64s
    payloads = [bytes(vbyte_encode([i + 1] * 4)) for i in range(6)]
    for p in payloads:
        memo.lookup(p)
        assert memo.nbytes == sum(a.nbytes for a in memo.values())
        assert memo.nbytes <= memo.max_bytes
    assert list(memo) == payloads[-2:]  # 2 x 32 B fit, a third does not
    memo.clear()
    assert memo.nbytes == 0 and not memo
