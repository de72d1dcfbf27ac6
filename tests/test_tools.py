"""The repository's tools: bench.py's run order and the off-scale
fixture's letter maps."""


def test_bench_order_unmeasured_not_tailed():
    """ADVICE r3: a new heavy query absent from BENCH_DETAIL.json must not
    sort behind every measured query — unmeasured run first, static heavy
    order among them; measured follow by time descending."""
    import bench

    prev = {"q_light": 0.3, "q_heavy": 30.0}
    rank = {"q_new_heavy": 0, "q_heavy": 1}
    names = ["q_light", "q_heavy", "q_new_heavy", "q_new_unknown"]
    got = sorted(names, key=lambda n: bench._order_key(n, prev, rank))
    assert got == ["q_new_heavy", "q_new_unknown", "q_heavy", "q_light"]
    # a measured-but-light query in the static list must NOT jump measured
    # heavies (rank applies to the unmeasured group only)
    prev2 = {"q_heavy": 30.0, "q65": 2.0}
    rank2 = {"q65": 0}
    got2 = sorted(["q_heavy", "q65"], key=lambda n: bench._order_key(n, prev2, rank2))
    assert got2 == ["q_heavy", "q65"]


def test_offscale_affine_maps_pairwise_far():
    """The derivation invariant the off-scale sweep rests on: any two
    distinct affine maps (incl. the identity used by replica 0) agree on
    at most 2 of the 26 letters, so cross-replica copies of a doc differ
    at essentially every letter position."""
    import sys, os
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from make_offscale import _AFFINE_MAPS

    maps = [(1, 0)] + list(_AFFINE_MAPS)  # replica 0 = identity
    assert len(set(maps)) == len(maps) >= 100
    tables = [[(a * c + b) % 26 for c in range(26)] for a, b in maps]
    # all genuinely permutations
    for t in tables:
        assert sorted(t) == list(range(26))
    # pairwise agreement <= 2 letters (spot-check the full first 60 maps
    # exhaustively — 1770 pairs — plus identity vs everyone)
    subset = tables[:60]
    for i in range(len(subset)):
        for j in range(i + 1, len(subset)):
            agree = sum(x == y for x, y in zip(subset[i], subset[j]))
            assert agree <= 2, (i, j, agree)
    for t in tables[1:]:
        assert sum(x == c for c, x in enumerate(t)) <= 2
