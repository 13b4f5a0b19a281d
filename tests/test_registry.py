"""Registry invariants: the driver checks only the first 50 queries()
entries, so the ordering is part of the contract (VERDICT r1 item 2)."""

import os
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from opengemini_spark import suite


def test_priority_window_is_exactly_50_unique_registered_names():
    qs = list(suite.queries())
    assert len(suite.PRIORITY) == 50
    assert len(set(suite.PRIORITY)) == 50
    assert qs[:50] == list(suite.PRIORITY)
    assert len(qs) == len(set(qs))


def test_priority_window_matches_round8_rotation():
    """The r8 window (VERDICT r7 next #1): never-driver-checked entries
    first, then changed-semantics re-verdicts, then the COMPLETE r4-era
    freshness tail — after this window every registered entry's newest
    driver verdict is r5+."""
    import json

    window = set(suite.PRIORITY)
    assert len(suite.PRIORITY) == 50 == len(window)
    # every registered entry with NO driver verdict in any CORRECTNESS
    # file must be in the window — first verdicts outrank rotation
    latest: dict[str, int] = {}
    for f in ROOT.glob("CORRECTNESS_r0*.json"):
        rnd = int(f.stem.split("_r0")[1])
        for k in json.loads(f.read_text()):
            latest[k] = max(latest.get(k, 0), rnd)
    never = set(suite.queries()) - set(latest)
    # first verdicts outrank rotation — except entries registered AFTER
    # the r8 window froze, which are declared in suite.R9_FIRST and lead
    # the next round's window (they carry local gate + pytest meanwhile)
    assert never <= window | set(suite.R9_FIRST), sorted(
        never - window - set(suite.R9_FIRST)
    )
    assert not (set(suite.R9_FIRST) & window), "R9_FIRST entries must not double-book r8 slots"
    assert set(suite.R9_FIRST) <= set(suite.queries())
    # changed oracle/code this round → must be re-verdicted
    for name in (
        "text_extract_html_blocks", "text_extract_html_clean",
        "text_extract_quality_e2e", "text_bpe_encode",
        "curate_pack_sequences_bpe", "curate_length_bucket_batches",
        "retrieval_rrf_fusion", "dedup_embedding_lsh",
        "dedup_embedding_lsh_highthr", "dedup_semantic_semdedup",
    ):
        assert name in window, name
    # the ENTIRE r4-era freshness tail is in the window (the r7 verdict's
    # top ask): nothing whose newest verdict predates r5 may be left out
    r4_tail = {k for k, r in latest.items() if r <= 4}
    assert r4_tail <= window, sorted(r4_tail - window)


def test_oracle_keys_subset_of_queries():
    qs, os_ = suite.queries(), suite.oracle_sql()
    assert set(os_) <= set(qs)
    # since round 6 EVERY registered entry has a driver oracle: the
    # percentile sketch got a bounded-error interval oracle (the GK
    # rank-error contract checked against exact rank values), and the
    # castor STL detector got a pinned-component replay (tools/
    # gen_stl_pins.py) — the loess is pinned, everything downstream is
    # independently recomputed in SQL. (holt_winters moved off the weak
    # list in r4, castor_sigma in r5, these two in r6.)
    assert set(qs) - set(os_) == set()
