"""Physical-plan assertions — the scale contract, machine-checkable.

SURVEY §4 maps each of the reference's manual placement tricks to a Catalyst
feature; these helpers make the mapping testable so a regression (a filter
that stops pushing down, a dimension join that stops broadcasting, an agg
that loses map-side partials) fails CI instead of surfacing as a 100 TB
shuffle.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame, *fragments: str) -> bool:
    """True if the parquet scan carries PushedFilters mentioning every
    fragment (≙ the reference's CQL WHERE pushdown, TemperatureActor.scala:57)."""
    plan = formatted_plan(df)
    m = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    pushed = " ".join(m)
    return all(f in pushed for f in fragments)


def scan_read_schema(df: DataFrame) -> list[str]:
    """Columns actually read from the (first) file scan — column pruning
    check (≙ .select() server-side projection, PrecipitationActor.scala:41)."""
    plan = formatted_plan(df)
    m = re.search(r"ReadSchema: struct<(.*?)>", plan)
    if not m:
        return []
    return [c.split(":")[0] for c in m.group(1).split(",") if c]


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def _final_only_ids(plan: str) -> set[str]:
    """Ids of the nodes only an adaptive ``== Final Plan ==`` tree holds.

    Once its frame has run an action, an adaptive plan prints the final
    tree beside the ``== Initial Plan ==`` one, and the details section
    describes the nodes of both; skipping these ids makes every counter
    read the initial plan, i.e. what it reads before any action (where
    this set is empty).  Nodes the two trees share keep their id."""
    final: set[str] = set()
    initial: set[str] = set()
    stack: list[tuple[str, int]] = []  # enclosing (section, marker indent)
    for ln in plan.splitlines():
        indent = len(ln) - len(ln.lstrip())
        while stack and (not ln.strip() or indent <= stack[-1][1]):
            stack.pop()
        m = re.match(r"\s*\+- == (Final|Initial) Plan ==$", ln)
        if m:
            stack.append((m.group(1), indent))
        elif stack:
            ids = final if any(s == "Final" for s, _ in stack) else initial
            ids.update(re.findall(r"\((\d+)\)", ln))
    return final - initial


def node_count(df: DataFrame, node: str) -> int:
    """Unique occurrences of a physical operator (formatted plans print each
    node twice: once in the tree, once in the details section)."""
    plan = formatted_plan(df)
    found = set(re.findall(rf"\((\d+)\) {node}", plan))
    return len(found - _final_only_ids(plan))


def shuffle_count(df: DataFrame) -> int:
    """Number of exchanges in the plan — the scale currency.  AQE may remove
    some at runtime; this counts the static plan's worst case."""
    return node_count(df, "Exchange")


def _tree_depth(line: str) -> int:
    """Depth of a node line in the formatted plan's tree drawing: the column
    where the operator token starts (branch glyphs ``+- : ~`` and spaces
    precede it; node names begin with a letter or ``*``)."""
    m = re.search(r"[A-Za-z*]", line)
    return m.start() if m else -1


def has_partial_aggregation(df: DataFrame) -> bool:
    """A HashAggregate is the DIRECT CHILD of an Exchange (map-side combine
    ≙ the Cassandra counter's commutative partial sums).

    Scoped two ways: to the tree section of the formatted plan (the details
    section repeats every node name, so a whole-text substring test was
    vacuously true), and — per round-4 advice — to the Exchange's direct
    child only.  The partial stage of a two-phase aggregate sits
    immediately under its Exchange; accepting an aggregate anywhere in the
    subtree re-admits the false positive the advice named (a final-only
    aggregation over a join whose BUILD side happens to contain an
    aggregate deeper inside the Exchange's subtree).  The tree prints
    preorder, so an Exchange's direct child is exactly the next line, one
    level deeper."""
    plan = formatted_plan(df)
    tree = plan.split("\n\n", 1)[0]  # tree section only
    lines = tree.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange" not in ln or i + 1 >= len(lines):
            continue
        child = lines[i + 1]
        if _tree_depth(child) > _tree_depth(ln) and "HashAggregate" in child:
            return True
    return False


def wholestage_codegen_spans(df: DataFrame) -> int:
    """Distinct whole-stage-codegen regions (formatted plans annotate member
    operators with ``[codegen id : N]``)."""
    plan = formatted_plan(df)
    return len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))


def _top_level_bracket_groups(s: str) -> list[str]:
    """Top-level ``[...]`` groups in a formatted-plan Arguments line
    (nested brackets — array literals, lambda params — don't count)."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in s:
        if ch == "[":
            if depth == 0:
                buf = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
                continue
        if depth >= 1:
            buf.append(ch)
    return groups


_ORDER_ARG_RE = re.compile(r"(ASC|DESC) NULLS (FIRST|LAST)\s*$")


def _split_top_level_args(s: str) -> list[str]:
    """Split a comma-separated argument list at paren/bracket depth 0."""
    args: list[str] = []
    depth = 0
    buf: list[str] = []
    for ch in s:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        if ch == "," and depth == 0:
            args.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    tail = "".join(buf).strip()
    if tail:
        args.append(tail)
    return [a.strip() for a in args if a.strip()]


def _windowspec_has_partition(exprs_group: str) -> bool | None:
    """Whether the ``windowspecdefinition(...)`` calls inside a Window
    node's expressions group carry a non-empty PARTITION BY.

    The spec prints its partition expressions first (bare), then the
    order fields (each suffixed ``ASC|DESC NULLS FIRST|LAST``), then the
    ``specifiedwindowframe(...)`` — so an argument NOT ending in a sort
    direction is a partition expression.  Parsing the spec itself (not
    the trailing ``[part], [order]`` bracket groups) is what makes the
    check robust to `` ASC``/`` DESC`` appearing inside partition
    expression TEXT (string literals, aliases in a CASE).  Returns
    ``None`` when no spec is found (caller falls back to the bracket
    -group layout heuristic)."""
    found = False
    has_part = False
    for m in re.finditer(r"windowspecdefinition\(", exprs_group):
        depth = 1
        i = m.end()
        while i < len(exprs_group) and depth:
            if exprs_group[i] == "(":
                depth += 1
            elif exprs_group[i] == ")":
                depth -= 1
            i += 1
        inner = exprs_group[m.end():i - 1]
        frame = inner.find("specifiedwindowframe(")
        if frame >= 0:
            inner = inner[:frame].rstrip().rstrip(",")
        found = True
        if any(
            not _ORDER_ARG_RE.search(a)
            for a in _split_top_level_args(inner)
        ):
            has_part = True
    return has_part if found else None


def unpartitioned_window_count(df: DataFrame | str) -> int:
    """Window physical nodes with an EMPTY partition spec — the shape that
    compiles to ``Exchange SinglePartition`` + one task holding the whole
    input, the canonical scale-killer.

    Primary classification parses the ``windowspecdefinition(...)``
    inside the Arguments line's expressions group (see
    :func:`_windowspec_has_partition` — immune to `` ASC``/`` DESC``
    text inside partition expressions).  When a plan rendering carries
    no spec (layout drift across Spark versions), falls back to the
    bracket-group layout: ``[exprs]`` plus the non-empty specs —
    partitioned+ordered → ``[exprs], [part], [order]``; partitioned only
    → ``[exprs], [part]``; unpartitioned+ordered → ``[exprs], [order]``
    (order groups carry direction markers); fully global → ``[exprs]``.
    Counts ``Window`` and ``WindowInPandas`` nodes (``WindowGroupLimit``
    always accompanies a counted ``Window``).  Both layouts are pinned
    by fixture tests (tests/test_plans.py) so a Spark-upgrade drift
    fails loudly instead of silently miscounting.  Takes the frame or its
    formatted plan."""
    plan = df if isinstance(df, str) else formatted_plan(df)
    skip = _final_only_ids(plan)
    lines = plan.splitlines()
    cnt = 0
    for i, ln in enumerate(lines):
        m = re.match(r"\((\d+)\) (Window|WindowInPandas)$", ln.strip())
        if not m or m.group(1) in skip:
            continue
        for j in range(i + 1, min(i + 6, len(lines))):
            stripped = lines[j].strip()
            if stripped.startswith("Arguments:"):
                groups = _top_level_bracket_groups(stripped)
                has_part = _windowspec_has_partition(
                    groups[0] if groups else ""
                )
                if has_part is not None:
                    cnt += 0 if has_part else 1
                elif len(groups) <= 1:
                    cnt += 1  # no partition, no order
                elif len(groups) == 2 and (
                    " ASC" in groups[1] or " DESC" in groups[1]
                ):
                    cnt += 1  # order spec only — no partition
                break
    return cnt
