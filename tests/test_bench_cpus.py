"""bench.prev_cpus_of: the core-count guard that keeps a delta from
comparing runs made at different core counts. Snapshots without a cpus
stamp count as 32-core runs."""

from __future__ import annotations

import pytest

from bench import prev_cpus_of


@pytest.mark.parametrize(
    "snapshot, cur, match, label",
    [
        ({"cpus": 8}, 8, True, "8"),  # stamped, same core count
        ({"cpus": 32}, 8, False, "32"),  # stamped, different core count
        ({}, 32, True, "32 (unstamped)"),  # unstamped vs a 32-core run
        ({}, 8, False, "32 (unstamped)"),  # unstamped vs an 8-core run
    ],
)
def test_prev_cpus_of(snapshot, cur, match, label):
    n, got_label = prev_cpus_of(snapshot)
    assert (n == cur) is match
    assert got_label == label
