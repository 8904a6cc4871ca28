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

Evaluation is DataFrame set algebra — semi-join (AND), union + dedup
(OR), anti-join complement (NOT) on doc-id columns — so operand lists
never materialize on the driver; operands are duplicate-free by
construction, which is what lets AND be a semi-join instead of a
dedup-shuffling ``intersect``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _term_doc_ids(index, term: str) -> DataFrame:
    """Spellcheck the verbatim operand, then fetch its sorted doc ids."""
    spark = index.spark
    try:
        corrected = index.driver_vocab().spellcheck_term(term)
    except RuntimeError:  # vocabulary beyond driver threshold
        from .spellcheck import spellcheck_distributed

        corrected = spellcheck_distributed(index.vocabulary, [term]).get(term)
    if corrected is None:
        return spark.range(0).select(F.col("id").cast("long").alias("doc_id"))
    return (
        index.postings.filter(F.col("term") == corrected)
        .select(F.explode("doc_ids").alias("doc_id"))
        .select(F.col("doc_id").cast("long"))
    )


def _not_operator(index, operand: DataFrame) -> DataFrame:
    """Complement with the empty-input quirk (postings.rs:179-188),
    decided INSIDE the plan — no eager emptiness probe, so a NOT node
    costs zero extra Spark jobs:

    - non-empty operand: complement over 0..n-1 (postings.rs:188-198)
    - empty operand:     1..=n — includes the out-of-range id n and
                         excludes 0 (postings.rs:179-181)

    One extended universe 0..n is anti-joined (a no-op for the empty
    case), then a broadcast 1-row count picks the branch per row.
    """
    spark = index.spark
    n = index.num_docs
    # limit(1) keeps the gate O(1): CollectLimit early-exits instead of
    # counting the whole operand
    cnt = operand.limit(1).agg(F.count(F.lit(1)).alias("_n"))
    return (
        spark.range(0, n + 1)
        .select(F.col("id").alias("doc_id"))
        .join(operand, "doc_id", "left_anti")
        .crossJoin(F.broadcast(cnt))
        .filter(
            ((F.col("_n") > 0) & (F.col("doc_id") < n))
            | ((F.col("_n") == 0) & (F.col("doc_id") >= 1))
        )
        .select("doc_id")
    )


def boolean_query(index, query: str) -> DataFrame:
    """-> DataFrame (doc_id, url, score=1.0) ordered by doc_id; a lazy
    plan, built fresh per call."""
    postfix = infix_to_postfix(query)
    stack: list[DataFrame] = []
    for p in postfix:
        if p == "AND":
            a, b = stack.pop(), stack.pop()
            # left_semi, not intersect: every operand is already
            # duplicate-free (posting lists hold one entry per doc,
            # postings.rs:81-113; NOT/OR outputs are deduped), so
            # intersection ≡ semi-join — without intersect's full
            # dedup-shuffle of BOTH sides per operator. AQE turns the
            # semi-join into a broadcast when one side is small.
            stack.append(a.join(b, "doc_id", "left_semi"))
        elif p == "OR":
            a, b = stack.pop(), stack.pop()
            # union still needs one dedup (overlapping operands), but
            # dropDuplicates on the single doc_id column beats
            # DataFrame.distinct-over-intersect's two-sided aggregate
            stack.append(a.union(b).dropDuplicates(["doc_id"]))
        elif p == "NOT":
            stack.append(_not_operator(index, stack.pop()))
        else:
            stack.append(_term_doc_ids(index, p))
    result = stack.pop()
    return (
        index.doc_lengths.join(result, "doc_id")
        .select("doc_id", "url", F.lit(1.0).alias("score"))
        .orderBy("doc_id")
    )
