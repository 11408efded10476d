"""Plan guard for consumers of ``urls.with_canon``.

``with_canon`` materializes each canon piece as an aliased column, so its
optimized logical plan evaluates the canon's entry expression
(``locate(://, <url>)``) once.  When a filter or join condition above it
compares a derived column (``canon_url``, ``url_hash``), Catalyst pushes
the comparison down through the aliases and inlines the whole chain, which
then appears many more times — and a hash comparison across a join turns
``xxhash64(<inlined canon>)`` into a join key evaluated on every row.  The
guard reads only the plan; it runs no Spark job.
"""

from __future__ import annotations

CANON_ENTRY = "locate(://, "


def _nodes(plan):
    yield plan
    children = plan.children()
    for i in range(children.size()):
        yield from _nodes(children.apply(i))


def assert_canon_plan(df, entries: int = 1) -> None:
    """Fail unless ``df``'s optimized logical plan holds the canon's entry
    expression exactly ``entries`` times and no join condition hashes."""
    seen = 0
    for node in _nodes(df._jdf.queryExecution().optimizedPlan()):
        exprs = node.expressions()
        for i in range(exprs.size()):
            seen += exprs.apply(i).toString().count(CANON_ENTRY)
        if node.nodeName() == "Join" and node.condition().isDefined():
            cond = node.condition().get().toString()
            assert "xxhash64(" not in cond, f"hash in join condition: {cond[:300]}"
    assert seen == entries, f"canon entry expression x{seen}, want x{entries}"
