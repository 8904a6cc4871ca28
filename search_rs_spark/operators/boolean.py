"""Boolean queries: shunting-yard parse + set-algebra evaluation (Q4-Q8, Q15).

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

Evaluation is SQL set algebra in one statement — semi-join (AND),
union + dedup (OR), anti-join complement (NOT) on doc-id columns — so
operand lists never materialize on the driver; operands are
duplicate-free by construction, which is what lets AND be a semi-join
instead of a dedup-shuffling ``intersect``.
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


def _term_doc_ids(index, term: str) -> str:
    """Spellcheck the verbatim operand, then select its sorted doc ids.
    Only the corrected vocabulary term reaches the SQL text."""
    from .bm25 import sql_str

    try:
        corrected = index.driver_vocab().spellcheck_term(term)
    except RuntimeError:  # vocabulary beyond driver threshold
        from .spellcheck import spellcheck_distributed

        corrected = spellcheck_distributed(index.vocabulary, [term]).get(term)
    if corrected is None:
        return "SELECT id AS doc_id FROM range(0)"
    return (
        "SELECT CAST(d AS BIGINT) AS doc_id FROM {postings} "
        f"LATERAL VIEW explode(doc_ids) t AS d WHERE term = {sql_str(corrected)}"
    )


def _not_operator(index, operand: str) -> str:
    """Complement of the relation named ``operand`` with the empty-input
    quirk (postings.rs:179-188), decided INSIDE the plan — no eager
    emptiness probe, so a NOT node costs zero extra Spark jobs:

    - non-empty operand: complement over 0..n-1 (postings.rs:188-198)
    - empty operand:     1..=n — includes the out-of-range id n and
                         excludes 0 (postings.rs:179-181)

    One extended universe 0..n is anti-joined (a no-op for the empty
    case), then a broadcast 1-row count picks the branch per row; its
    LIMIT 1 keeps the gate O(1) instead of counting the whole operand.
    """
    n = index.num_docs
    return (
        f"SELECT /*+ BROADCAST(c) */ u.id AS doc_id FROM range(0, {n + 1}) u "
        f"LEFT ANTI JOIN {operand} o ON u.id = o.doc_id "
        f"CROSS JOIN (SELECT count(1) AS _n FROM (SELECT * FROM {operand} LIMIT 1)) c "
        f"WHERE (c._n > 0 AND u.id < {n}) OR (c._n = 0 AND u.id >= 1)"
    )


def boolean_query(index, query: str) -> DataFrame:
    """-> DataFrame (doc_id, url, score=1.0) ordered by doc_id; a lazy
    plan, built fresh per call as one ``spark.sql`` statement whose CTEs
    are the postfix stack's nodes."""
    ctes: list[str] = []
    stack: list[str] = []

    def push(select: str) -> None:
        stack.append(f"b{len(ctes)}")
        ctes.append(f"{stack[-1]} AS ({select})")

    for p in infix_to_postfix(query):
        if p == "AND":
            a, b = stack.pop(), stack.pop()
            # left semi, not intersect: every operand is already
            # duplicate-free (posting lists hold one entry per doc,
            # postings.rs:81-113; NOT/OR outputs are deduped), so
            # intersection ≡ semi-join — without intersect's full
            # dedup-shuffle of BOTH sides per operator. AQE turns the
            # semi-join into a broadcast when one side is small.
            push(f"SELECT a.doc_id FROM {a} a LEFT SEMI JOIN {b} b ON a.doc_id = b.doc_id")
        elif p == "OR":
            a, b = stack.pop(), stack.pop()
            # union still needs one dedup (overlapping operands): one
            # aggregate on the single doc_id column
            push(
                "SELECT DISTINCT doc_id FROM "
                f"(SELECT doc_id FROM {a} UNION ALL SELECT doc_id FROM {b})"
            )
        elif p == "NOT":
            push(_not_operator(index, stack.pop()))
        else:
            push(_term_doc_ids(index, p))
    result = stack.pop()
    return index.spark.sql(
        f"WITH {', '.join(ctes)} "
        "SELECT d.doc_id, d.url, 1.0D AS score "
        f"FROM {{docs}} d JOIN {result} r ON d.doc_id = r.doc_id ORDER BY doc_id",
        postings=index.postings,
        docs=index.doc_lengths,
    )
