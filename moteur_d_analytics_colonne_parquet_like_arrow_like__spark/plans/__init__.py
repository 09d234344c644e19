"""Physical-plan inspection: verify pushdown, pruning, and join strategies.

The reference hand-implements its optimizations (zone-map skipping, column
pruning, predicate-in-scan — SURVEY.md §4.1); on Spark they are Catalyst
rules whose presence we *verify* rather than implement. These helpers parse
``explain("formatted")`` output so tests can assert that:

- filters reached the parquet scan (``PushedFilters``),
- only needed columns are read (``ReadSchema``),
- a join is broadcast when a side is small,
- whole-stage codegen covers the hot path.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_info(df: DataFrame) -> dict:
    """Extract PushedFilters / ReadSchema from each parquet scan node."""
    plan = formatted_plan(df)
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "pushed_filters": [p.strip() for p in pushed],
        "read_schemas": [s.strip() for s in schemas],
        "plan": plan,
    }


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    info = scan_info(df)
    return any(fragment in p for p in info["pushed_filters"])


def read_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each scan (column-pruning check)."""
    out = []
    for s in scan_info(df)["read_schemas"]:
        cols = set()
        depth = 0
        name = ""
        for ch in s:
            if ch == "<":
                depth += 1
            elif ch == ">":
                depth -= 1
            elif depth == 0 and ch == ",":
                name = ""
                continue
            if depth == 0 and ch == ":" and name:
                cols.add(name.strip())
                name = "\0"  # sentinel: skip until next comma
            elif depth == 0 and name != "\0":
                name += ch
        out.append({c for c in cols if c})
    return out


def join_strategies(df: DataFrame) -> list[str]:
    """Join exec node names in the physical plan (BroadcastHashJoin etc.)."""
    plan = formatted_plan(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )


def _walk_logical(jnode):
    yield jnode
    ch = jnode.children()
    for i in range(ch.size()):
        yield from _walk_logical(ch.apply(i))


def _attr_names(jexpr_seq) -> set[str]:
    """Base attribute names referenced by a Seq[Expression] (the
    ``name#exprId`` tokens of the expressions' string forms)."""
    names: set[str] = set()
    for i in range(jexpr_seq.size()):
        s = jexpr_seq.apply(i).toString()
        names.update(re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", s))
    return names


def _out_names(jexpr_seq) -> set[str]:
    """One OUTPUT name per expression in a Seq[Expression]: a plain
    attribute's own name, or the alias of ``expr AS alias#id`` (the
    last ``name#id`` token in the string form)."""
    names: set[str] = set()
    for i in range(jexpr_seq.size()):
        s = jexpr_seq.apply(i).toString()
        m = re.findall(r"([A-Za-z_][A-Za-z0-9_]*)#\d+", s)
        if m:
            names.add(m[-1])
    return names


def unsafe_global_windows(
    df: DataFrame,
    low_card_cols: tuple[str, ...] = (),
    bounded_cols: tuple[str, ...] = (),
    chunk_marker: str = "__chunk",
) -> list[str]:
    """Window nodes in the optimized logical plan that would collapse a
    data-proportional relation into one task at scale: an (effectively)
    global window — empty partition spec, or (when ``low_card_cols``
    names known fixed-cardinality keys like a document ``source``)
    partitioned only by those — whose input is not a provably bounded
    reduction.

    An effectively-global window is accepted ONLY when its subtree
    contains an Aggregate whose (non-empty) grouping keys are drawn
    from ``chunk_marker`` | ``bounded_cols`` — i.e. it runs over chunk
    totals (phase 2 of operators/stats.two_phase_rank_cumsum) or over
    cells the CALLER declares bounded (calendar days/months, dow,
    rounded value grids...). A window straight over a per-KEY aggregate
    (per-customer revenue, per-supplier sums — cardinality grows with
    the data) is flagged even though an Aggregate sits below it: that
    is exactly the correct-but-single-task shape this checker exists to
    ban. Aggregates with EMPTY grouping (broadcast stats rows) never
    qualify as the reduction.

    A partition spec referencing the chunk key (phase 1 of the
    two-phase scan — tasks bounded by chunk occupancy) is always safe.
    Per-key windows over keys whose cardinality GROWS with the data
    (user_id, part key...) keep bounded group sizes and are not
    candidates — only list a key in ``low_card_cols`` when its
    cardinality is fixed while its groups grow. Name matching is on
    exact attribute names (``name#id``), never substrings.

    Returns the offending Window nodes' partition specs (empty list ==
    safe), so tests can assert ``== []`` and failures name the node.
    """
    # grouping by a declared fixed-cardinality key is bounded too
    # (cells = low_card x chunks/bounded), so it joins the accept set
    ok_grouping = set(bounded_cols) | set(low_card_cols) | {chunk_marker}
    root = df._jdf.queryExecution().optimizedPlan()
    bad = []
    for n in _walk_logical(root):
        if n.nodeName() != "Window":
            continue
        spec_names = _attr_names(n.partitionSpec())
        if chunk_marker in spec_names:
            continue
        effectively_global = not spec_names or spec_names <= set(
            low_card_cols
        )
        if not effectively_global:
            continue
        reduced = False
        for m in list(_walk_logical(n))[1:]:
            if m.nodeName() != "Aggregate":
                continue
            g = _out_names(m.groupingExpressions())
            if g and g <= ok_grouping:
                reduced = True
                break
        if not reduced:
            bad.append(f"Window(partitionBy=[{sorted(spec_names)}])")
    return bad
