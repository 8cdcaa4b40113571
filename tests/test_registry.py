"""Driver-sampler window invariants (no SparkSession needed).

The driver hash-certifies the alphabetically-first 50 registry names
each round.  These tests pin the round-9 rotation contract from
queries/aliases.py: the window must be 50 FIRST-TIME names — zero
re-hashes of anything certified in rounds 1..9.

``certified_names.txt`` holds those spent names: every name with a
green row in the round 1..9 correctness records, plus the de-aliased
original (``q`` + NNN) of each ``a0NNN`` alias among them.  When
rotating the window next round, append the names the new round
certified and re-point queries/aliases.py at the next never-sampled
tranche.
"""

from __future__ import annotations

import os
import re

from grouper_spark.queries import load_all

_FIXTURE = os.path.join(os.path.dirname(__file__), "certified_names.txt")


def _certified_names() -> set[str]:
    """Names certified in rounds 1..9 (see the module docstring)."""
    with open(_FIXTURE) as f:
        return set(f.read().split())


def test_window_is_50_first_time_names():
    reg = load_all()
    window = sorted(reg)[:50]
    spent = _certified_names()
    rehashes = [
        n
        for n in window
        if n in spent
        or ("alias" in reg[n].tags and reg[n].tags[-1] in spent)
    ]
    assert rehashes == [], f"window re-hashes already-certified: {rehashes}"


def test_window_composition():
    reg = load_all()
    window = sorted(reg)[:50]
    aliases = [n for n in window if "alias" in reg[n].tags]
    ops = [n for n in window if "alias" not in reg[n].tags]
    assert len(aliases) == 25 and len(ops) == 25
    for n in aliases:
        orig = reg[n].tags[-1]
        assert orig in reg, f"{n} aliases missing original {orig}"
        assert reg[n].oracle == reg[orig].oracle
        assert reg[n].fn is reg[orig].fn
        assert n == "a0" + orig[1:]


def test_retired_numbers_not_reused():
    reg = load_all()
    retired = (
        {f"a{i:03d}" for i in range(0, 79)}
        | {f"a{i:03d}" for i in range(101, 126)}
        | {"a415", "a416", "a423", "a424"}
    )
    used = {n.split("_")[0] for n in reg if re.match(r"^a\d{3}_", n)}
    assert not (used & retired), sorted(used & retired)
