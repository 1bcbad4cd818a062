"""The array replay behind tools/check_cc_independent.py: components
are min reachable ids and the canonical rule keeps the longest doc per
component (ties to the smallest id), with and without pairs."""

from __future__ import annotations

import numpy as np


def _arr(xs):
    return np.array(xs, dtype=np.int64)


def test_expected_verdicts_no_pairs_all_singletons():
    from tools.check_cc_independent import expected_verdicts

    cc, canon = expected_verdicts(_arr([]), _arr([]), _arr([3, 1, 2]),
                                  _arr([5, 7, 5]))
    assert cc == {}
    assert canon == {1: (1, 1), 2: (2, 1), 3: (3, 1)}


def test_expected_verdicts_components_and_winners():
    from tools.check_cc_independent import expected_verdicts

    cc, canon = expected_verdicts(
        _arr([3, 2, 11]), _arr([2, 1, 10]),
        _arr([1, 2, 3, 4, 10, 11]), _arr([5, 9, 9, 1, 3, 3]))
    assert cc == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert canon == {1: (1, 0), 2: (1, 1), 3: (1, 0), 4: (4, 1),
                     10: (10, 1), 11: (10, 0)}
