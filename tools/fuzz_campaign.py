"""Extended fuzz campaign: the suite's property invariants at a much
larger examples budget with fresh (non-derandomized) seeds.

The committed hypothesis tests pin max_examples to keep the suite fast
(~150-250 each) and pytest derandomizes them per run; this tool re-wraps
the SAME invariant bodies and geometry zoos with a big budget and true
randomness — the between-rounds bug-hunting pass that found the r3
stitching/containment counterexamples.

Usage: python tools/fuzz_campaign.py [--examples 2000]
Exit code != 0 (with a hypothesis falsifying example) means a real bug.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--examples", type=int, default=2000)
    args = ap.parse_args()

    from hypothesis import HealthCheck, given, seed, settings
    from hypothesis import strategies as st

    import tests.test_group_predicates as gp
    import tests.test_overlay_consistency as ov
    import tests.test_predicate_consistency as pr

    cfg = settings(
        max_examples=args.examples,
        deadline=None,
        derandomize=False,
        suppress_health_check=list(HealthCheck),
        print_blob=True,
    )
    rnd = int.from_bytes(os.urandom(4), "big")
    def inner(test):
        return test.hypothesis.inner_test

    campaigns = [
        ("relate/named-predicates", pr.geoms(), pr.geoms(),
         inner(pr.test_relate_transpose_and_named_predicates)),
        ("predicate lattice", pr.geoms(), pr.geoms(),
         inner(pr.test_predicate_lattice)),
        ("distance/dwithin", pr.geoms(), pr.geoms(),
         inner(pr.test_distance_dwithin_consistency)),
        ("overlay inclusion-exclusion", ov.polys(), ov.polys(),
         inner(ov.test_overlay_inclusion_exclusion)),
        ("overlay vs relate", ov.polys(), ov.polys(),
         inner(ov.test_overlay_agrees_with_relate)),
        # a batch of point/line/polygon/multipolygon/holed lefts against
        # one areal, lineal or point right: every predicate of
        # group_predicate must equal the scalar kernel per left
        ("group≡scalar", st.lists(pr.geoms(), min_size=1, max_size=12),
         pr.geoms(), gp._check_batch),
        # many lefts x many rights of every type (the zoo plus mixed
        # collections and node-touching holes), all pairs shuffled into
        # one pair_predicate call: each must equal the scalar kernel and
        # the same pair evaluated alone
        ("pair≡scalar", st.lists(gp.pair_geoms(), min_size=1, max_size=6),
         st.lists(gp.pair_geoms(), min_size=1, max_size=6), gp._check_pairs),
    ]
    failures = 0
    for name, sa, sb, body in campaigns:
        runner = seed(rnd)(cfg(given(sa, sb)(body)))
        t0 = time.time()
        try:
            runner()
            print(f"OK    {name}: {args.examples} examples "
                  f"[{time.time() - t0:.1f}s, seed={rnd}]")
        except Exception as ex:
            # str() of an AssertionError is empty: the traceback carries
            # hypothesis's falsifying example
            failures += 1
            traceback.print_exc()
            print(f"FAIL  {name}: {type(ex).__name__}: {ex} "
                  f"[{time.time() - t0:.1f}s, seed={rnd}]")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
