"""Property-based tests (SURVEY §5): randomized inputs, structural
invariants. Complements the deterministic goldens."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from kglinker.extract.dates import find_dates
from kglinker.extract.matcher import annotate_conversation

NOISE = ["ran", "fine", "later", "ok,", "the", "12x", "—", "(note)", "a"]
SURFACES = ["Praha", "T. G. Masaryk", "Jan Novák", "Apache Spark",
            "Washington", "ona", "Novák", "1920", "12.11.1694"]


@st.composite
def texts(draw):
    words = draw(st.lists(st.sampled_from(NOISE + SURFACES),
                          min_size=0, max_size=30))
    return " ".join(words)


@settings(max_examples=60, deadline=None)
@given(texts())
def test_match_offsets_and_nonoverlap(text):
    art = test_match_offsets_and_nonoverlap.art
    ms = art.automaton.find_matches(text)
    prev_end = -1
    for m in ms:
        assert text[m.start:m.end] == m.surface
        assert m.start >= prev_end          # non-overlapping, sorted
        prev_end = m.end
        # token-aligned
        assert m.start == 0 or not text[m.start - 1].isalnum()
        assert m.end == len(text) or not text[m.end].isalnum()


@settings(max_examples=40, deadline=None)
@given(st.lists(texts(), min_size=1, max_size=6))
def test_annotation_deterministic_and_valid(turn_texts):
    art = test_annotation_deterministic_and_valid.art
    turns = list(enumerate(turn_texts))
    r1 = annotate_conversation("c", turns, art)
    r2 = annotate_conversation("c", turns, art)
    assert r1 == r2                          # pure function
    for r in r1:
        t = turn_texts[r.turn_idx]
        assert t[r.start:r.end] == r.surface
        assert r.mention_type in ("kb", "date", "interval", "coref")
        if r.mention_type in ("kb", "coref"):
            assert r.kb_id in art.kb_meta


@settings(max_examples=80, deadline=None)
@given(st.integers(1000, 2100), st.integers(1, 12), st.integers(1, 28))
def test_date_roundtrip(y, m, d):
    ds = find_dates(f"narozen {d}.{m}.{y} doma")
    assert len(ds) == 1
    assert ds[0].resolved == f"{y:04d}-{m:02d}-{d:02d}"


import pytest  # noqa: E402

from kglinker.automaton.build import Automaton  # noqa: E402
from kglinker.oracle_matcher import OracleLinker  # noqa: E402


@pytest.fixture(autouse=True)
def _bind_artifacts(artifacts, oracle_linker):
    """Bind the session-scoped artifacts and oracle into the hypothesis
    tests (hypothesis can't take pytest fixtures directly)."""
    test_match_offsets_and_nonoverlap.art = artifacts
    test_annotation_deterministic_and_valid.art = artifacts
    test_find_matches_equals_oracle_scan.art = artifacts
    test_find_matches_equals_oracle_scan.oracle = oracle_linker


def _scan(automaton: Automaton, text: str) -> list[tuple]:
    return [(m.start, m.end, m.surface, m.kb_ids, m.is_fragment)
            for m in automaton.find_matches(text)]


@settings(max_examples=60, deadline=None)
@given(texts())
def test_find_matches_equals_oracle_scan(text):
    """The engine scan (surface-dict probes per distinct length) equals
    the oracle's independent scan (longest-first probe lists) on the
    fixture dictionary."""
    f = test_find_matches_equals_oracle_scan
    assert _scan(f.art.automaton, text) == f.oracle._scan(text)


# Hot first token: every URI starts with "https", and one URI extends
# another past a non-alnum boundary, so a shortest-first scan would stop
# at the shorter one.
_HOT = {f"https://w.example/E{i:04d}": ((i,), False) for i in range(300)}
_HOT["https://w.example/E0007/extra"] = ((999,), False)
_HOT["https"] = ((1000,), True)
_HOT_AUTOMATON = Automaton(_HOT)
_HOT_ORACLE = OracleLinker(
    [], [{"surface": s, "kb_ids": list(ids), "is_fragment": frag}
         for s, (ids, frag) in _HOT.items()], [])
_HOT_WORDS = (list(_HOT)[:12] + list(_HOT)[-2:]
              + ["https://w.example/E12", "https://w.example/E0007x",
                 "https://w.example", "viz", "a"])


@settings(max_examples=100, deadline=None)
@given(st.lists(st.tuples(st.sampled_from(_HOT_WORDS),
                          st.sampled_from([" ", "/", ", ", "", "."])),
                max_size=12))
def test_find_matches_equals_oracle_scan_hot_first_token(parts):
    text = "".join(w + sep for w, sep in parts)
    assert _scan(_HOT_AUTOMATON, text) == _HOT_ORACLE._scan(text)
