"""Boolean queries: shunting-yard parse + block-local set algebra (Q4-Q8, Q15).

Reference: ``Engine::boolean_query`` + ``infix_to_postfix_boolean``
(/root/reference/search/src/engine/mod.rs:94-136,215-247) and the
sorted-list set operators (postings.rs:111-200).

Faithfully reproduced quirks (each pinned by a test):
- operands are looked up VERBATIM (no tokenize/stem/lowercase), then
  spellchecked (mod.rs:108-112);
- precedence NOT=3 > AND=2 > OR=1; the pop condition is strictly
  greater, so equal-precedence operators do NOT pop (mod.rs:233-239);
- ``NOT`` of an EMPTY doc-id list returns ``1..=n`` — including the
  out-of-range id ``n`` and excluding 0 (postings.rs:179-181); the
  non-empty case is the complement over ``0..n`` (postings.rs:188-198);
- every boolean hit scores a constant 1.0 (mod.rs:122-127).

The postings are blocked by doc id (``block_id = doc_id //
block_span``), so every set operation stays inside one block, as in
HERO's (SIGMOD'24) partition-wise intersection: one postings scan, one
``GROUP BY block_id``, and per block one array expression —
``array_intersect`` (AND), ``array_union`` (OR), ``array_except`` from
the block's ids (NOT). No set operator is a join, and no operand list
reaches the driver.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

PRECEDENCE = {"NOT": 3, "AND": 2, "OR": 1, "(": 0, ")": 0}  # mod.rs:30-36


def infix_to_postfix(query: str) -> list[str]:
    """Shunting-yard with the reference's exact quirks (mod.rs:215-247)."""
    res: list[str] = []
    stack: list[str] = []
    sanitized = query.replace("(", " ( ").replace(")", " ) ")
    for t in sanitized.split():
        if t == "(":
            stack.append(t)
        elif t == ")":
            last = stack.pop()
            while last != "(":
                res.append(last)
                last = stack.pop()
        elif t in PRECEDENCE:
            while stack and PRECEDENCE[stack[-1]] > PRECEDENCE[t]:
                res.append(stack.pop())
            stack.append(t)
        else:
            res.append(t)
    res.extend(reversed(stack))
    return res


def boolean_query(index, query: str) -> DataFrame:
    """-> DataFrame (doc_id, url, score=1.0) ordered by doc_id; a lazy
    plan, built fresh per call as one ``spark.sql`` statement:

    - the postings rows of the spellchecked operand terms, plus one row
      per block when the query negates, so that a block holding no
      operand still gets a row;
    - ``GROUP BY block_id`` with one doc-id array column per term;
    - the postfix stack as array expressions over those columns. The
      empty-operand quirk of NOT is decided without a job: an unmatched
      term is known empty on the driver, and a compound operand is
      projected as a column whose ``max(size(x)) OVER ()`` spans the
      at most nblocks rows;
    - ``explode``, the url join and the doc_id sort.
    Only vocabulary terms and numbers reach the SQL text."""
    from .bm25 import sql_str

    postfix = infix_to_postfix(query)
    operands = sorted({p for p in postfix if p not in PRECEDENCE})
    try:
        corrected = {t: index.driver_vocab().spellcheck_term(t) for t in operands}
    except RuntimeError:  # vocabulary beyond driver threshold
        from .spellcheck import spellcheck_distributed

        corrected = spellcheck_distributed(index.vocabulary, operands) if operands else {}
    column = {t: f"t{i}" for i, t in enumerate(sorted(set(corrected.values()) - {None}))}
    n, span = index.num_docs, int(index.stats["block_span"])
    # the block's own doc ids, block_id·span .. min((block_id+1)·span, n) - 1
    ids = f"sequence(block_id * {span}, least((block_id + 1) * {span}, {n}) - 1)"

    where = f"term IN ({', '.join(sql_str(t) for t in column)})" if column else "FALSE"
    rows = f"SELECT term, block_id, doc_ids FROM {{postings}} WHERE {where}"
    if "NOT" in postfix:  # one split: beside a one-task scan, no exchange
        rows += f" UNION ALL SELECT NULL, id, NULL FROM range(0, {-(-n // span)}, 1, 1)"
    arrays = "".join(
        f", flatten(collect_list(CASE WHEN term = {sql_str(t)} THEN doc_ids END)) AS {c}"
        for t, c in column.items()
    )
    layer = f"SELECT block_id{arrays} FROM ({rows}) GROUP BY block_id"

    stack: list[tuple[str, str]] = []  # (array expression, "term" | "empty" | "compound")
    n_layers = 0
    for p in postfix:
        if p in ("AND", "OR"):
            (b, _), (a, _) = stack.pop(), stack.pop()
            op = "array_intersect" if p == "AND" else "array_union"
            stack.append((f"{op}({a}, {b})", "compound"))
        elif p == "NOT":
            x, kind = stack.pop()
            if kind == "empty":  # 1..=n (postings.rs:179-181); id n has no url
                x = "array(0L)"
            elif kind == "compound":  # a vocabulary term is never empty
                n_layers += 1
                layer = f"SELECT *, {x} AS s{n_layers} FROM ({layer})"
                x = f"IF(max(size(s{n_layers})) OVER () > 0, s{n_layers}, array(0L))"
            stack.append((f"array_except({ids}, {x})", "compound"))
        elif corrected[p] is None:
            stack.append(("CAST(array() AS ARRAY<BIGINT>)", "empty"))
        else:
            stack.append((column[corrected[p]], "term"))
    # a window may not share its SELECT with the generator
    hits = f"SELECT explode(r) AS doc_id FROM (SELECT {stack.pop()[0]} AS r FROM ({layer}))"
    return index.spark.sql(
        "SELECT d.doc_id, d.url, 1.0D AS score "
        f"FROM {{docs}} d JOIN ({hits}) h ON d.doc_id = h.doc_id ORDER BY doc_id",
        postings=index.postings,
        docs=index.doc_lengths,
    )
