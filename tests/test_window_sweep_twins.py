"""Standing gate for tools/window_sweep.py's EXACT_TWINS list.

The sweep caps the documented O(n²) exact-oracle twins; a twin
missing from the list runs its full brute-force pair generation at
sweep scale (exactly how the round-9 sweep found doc_dedup_keep_best
at 201 s — it sat in a window block no previous sweep had covered).
This test re-derives the set the way the round-9 audit did — every
registered query whose own source calls an exact-pair generator —
so a future registration that composes one cannot silently skip the
cap, and a retired query cannot leave a stale name behind.
"""

from __future__ import annotations

import inspect

# The exact-pair generators (operators/dedup.py, operators/
# similarity.py): every call site enumerates candidate pairs without
# LSH banding, O(n²) in its input by design.
_EXACT_PAIR_FNS = {
    "jaccard_pairs",
    "jaccard_pairs_cross",
    "embedding_near_dup_pairs",
}


def _exact_pair_callers() -> set[str]:
    """Registered queries whose own body CALLS an exact-pair
    generator — via the AST, so docstring/comment mentions (the _lsh
    variants document their exact twins in prose) never count."""
    import ast
    import textwrap

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    calls: dict[str, set[str]] = {}
    for name, fn in qs.items():
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        calls[name] = {
            (
                node.func.attr
                if isinstance(node.func, ast.Attribute)
                else getattr(node.func, "id", "")
            )
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
        }
    out = {n for n, c in calls.items() if c & _EXACT_PAIR_FNS}
    # transitive: a query composing another registered query that is
    # itself an exact-pair caller (doc_dedup_cluster_stats wraps
    # doc_dedup_final) inherits the cost — iterate to fixpoint
    changed = True
    while changed:
        changed = False
        for n, c in calls.items():
            if n not in out and c & out:
                out.add(n)
                changed = True
    return out


def test_exact_twins_list_matches_the_code():
    from tools.window_sweep import EXACT_TWINS

    callers = _exact_pair_callers()
    missing = callers - EXACT_TWINS
    stale = EXACT_TWINS - callers
    assert not missing, (
        f"registered queries calling an exact-pair generator but not "
        f"capped by the sweep: {sorted(missing)}"
    )
    assert not stale, (
        f"EXACT_TWINS names no longer calling an exact-pair generator "
        f"(retired or rewritten): {sorted(stale)}"
    )
