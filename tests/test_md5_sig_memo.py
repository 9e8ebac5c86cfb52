"""The per-task shingle memo of ``_md5_sigs`` stays bounded on a
high-cardinality corpus and never changes a signature. pandas only."""

from __future__ import annotations

import pandas as pd

from kasper_spark.operators.dedup import _NUM_HASHES, _SHINGLE_N, _md5_sig_fn


class _PeakDict(dict):
    peak = 0

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.peak = max(self.peak, len(self))


def _corpus(n_docs: int) -> list[pd.DataFrame]:
    # every doc has its own vocabulary (high cardinality) plus a shared
    # boilerplate run, so the memo both fills and gets hits
    docs = [
        " ".join([f"w{d}_{t}" for t in range(30)] + ["the", "same", "old", "tail"])
        for d in range(n_docs)
    ]
    docs[3] = "too short"  # under 3 tokens: absent
    docs[4] = None  # NULL text: absent
    frames = []
    for lo in range(0, n_docs, 50):
        ids = list(range(lo, min(lo + 50, n_docs)))
        frames.append(pd.DataFrame({"doc_id": ids, "text": [docs[i] for i in ids]}))
    return frames


def test_memo_is_bounded_and_signatures_unchanged():
    frames = _corpus(300)
    cap = 256
    memo = _PeakDict()
    bounded = pd.concat(
        _md5_sig_fn(_NUM_HASHES, _SHINGLE_N, memo_cap=cap)(iter(frames), memo)
    )
    unbounded_memo = _PeakDict()
    unbounded = pd.concat(
        _md5_sig_fn(_NUM_HASHES, _SHINGLE_N, memo_cap=1 << 30)(
            iter(frames), unbounded_memo
        )
    )
    assert memo.peak == cap
    assert unbounded_memo.peak > 30 * cap  # the corpus really overflows it
    assert len(bounded) == 298
    pd.testing.assert_frame_equal(
        bounded.reset_index(drop=True), unbounded.reset_index(drop=True)
    )
