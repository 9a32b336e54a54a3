"""Source-level audit: NO ungated/unjustified ``F.broadcast`` (VERDICT
r5 item 2). The r5 fallback-claims sweep gated every broadcast it FOUND
— and missed the shingle-LSH verify join the same day it was written,
because the sweep was manual. This test makes the class structural: a
new ``F.broadcast(...)`` on a frame that is not provably small fails the
suite unless the author either routes it through the counted gate
(``operators.similarity.maybe_broadcast`` / an ``if <count> ... else``
ternary on a measured size) or tags the site with the strongest TRUE
justification within the three preceding lines:

- ``dim-sized``      — a bounded dimension table (nation/region/etc.)
- ``model-sized``    — centroids, vocab, LM/NB model, per-dimension rows
- ``one-row``        — a single global aggregate row
- ``label-sized``    — one row per distinct label / group key
- ``bucket-sized``   — bounded by an explicit bucket/band constant
- ``vocab-sized``    — Heaps'-law token vocabulary (say why if unusual)
- ``bounded``        — an explicit cap or upstream gate enforces the size
- ``driver-sized``   — already materialized driver-side state
- ``sample-capped``  — a deterministic orderBy+limit precedes it
- ``contract-scale`` — row-count-proportional but exact-at-contract-scale
  BY DESIGN, with the scale route documented in the docstring (use this
  sparingly; prefer the counted gate)

The ``if``/``else`` acceptance is intentionally syntactic (a counted
ternary within the statement); the floor test below keeps the auditor
itself honest.
"""

from __future__ import annotations

import os
import re

ENGINE_ROOT = os.path.join(
    os.path.dirname(__file__), "..", "mapreduce_hw05_spark"
)

#: call sites AND bare-callable references (r6 ADVICE: `maybe_b =
#: F.broadcast if ... else ...` routing assignments were invisible to
#: the `F.broadcast(` form, so an ungated bare assignment could pass the
#: audit it was built to fail). (?<!`) skips prose mentions in
#: docstrings (``F.broadcast``); code never backticks the callable.
CALL = re.compile(r"(?<!`)F\.broadcast\b")
JUSTIFIED = re.compile(
    # (?<!un) so `W.unboundedPreceding` in a nearby window frame cannot
    # masquerade as a `bounded` tag (found while building the auditor)
    r"dim-sized|model-sized|one-row|label-sized|bucket-sized|vocab-sized"
    r"|(?<!un)bounded|driver-sized|sample-capped|contract-scale"
)
#: the counted-gate ternary shape: `F.broadcast(x) if n <= cap else x`
#: (or the bare-callable variant `F.broadcast if ... else (lambda ...)`)
GATED = re.compile(r"\bif\b[\s\S]{0,120}?\belse\b")
#: how many lines above the call the justification may sit
CONTEXT = 3
#: how many lines below the call the ternary's if/else may spill
TERNARY_SPILL = 2


def iter_call_sites():
    for root, _dirs, files in os.walk(ENGINE_ROOT):
        if "__pycache__" in root:
            continue
        for fname in sorted(files):
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            lines = open(path).readlines()
            for i, line in enumerate(lines):
                if CALL.search(line):
                    above = "".join(lines[max(0, i - CONTEXT) : i + 1])
                    around = "".join(
                        lines[max(0, i - 1) : i + 1 + TERNARY_SPILL]
                    )
                    yield (
                        os.path.relpath(path, ENGINE_ROOT),
                        i + 1,
                        line,
                        above,
                        around,
                    )


def test_every_broadcast_is_gated_or_justified():
    bad = [
        f"{path}:{lineno}  {line.strip()[:70]}"
        for path, lineno, line, above, around in iter_call_sites()
        if not (JUSTIFIED.search(above) or GATED.search(around))
    ]
    assert not bad, (
        "F.broadcast without a counted gate or boundedness tag "
        "(route through maybe_broadcast / a counted ternary, or tag the "
        "site — see module docstring):\n" + "\n".join(bad)
    )


def test_audit_actually_sees_the_sites():
    """Guard the auditor: the scan must keep finding the known gate and
    tag exemplars — if the regex or the walk breaks, this fails before
    the main test silently passes on an empty list."""
    sites = {(p, ln) for p, ln, _l, _a, _ar in iter_call_sites()}
    files = {p for p, _ in sites}
    assert "operators/similarity.py" in files   # maybe_broadcast itself
    assert "operators/graph.py" in files        # counted ternaries
    assert os.path.join("plans", "tpch_queries.py") in files.union(
        {p.replace(os.sep, "/") for p in files}
    ) or "plans/tpch_queries.py" in files       # tagged dim broadcasts
    # the engine's known broadcast-site floor (r7: 4 sites in the cosine
    # family moved into maybe_broadcast, which counts once per module)
    assert len(sites) >= 95
    # r6 ADVICE: the bare-callable routing assignments must be visible
    # (pipeline_queries.py's `maybe_b = F.broadcast if ... else ...`)
    assert any(
        p.endswith("pipeline_queries.py") and "F.broadcast(" not in line
        for p, _ln, line, _a, _ar in iter_call_sites()
    )


def test_ternary_detector_matches_known_gates():
    """The GATED regex must accept the house counted-gate shapes."""
    assert GATED.search("F.broadcast(ranks) if bcast_ranks else ranks")
    assert GATED.search(
        "F.broadcast\n        if stats['v'] <= cap\n        else (lambda df: df)"
    )
    assert not GATED.search("F.broadcast(nation), supp.s_nationkey")
