"""Output checks against the package's pure-Python oracle (untimed).

Free-text answers must be the oracle's top k: the same documents with
the same scores to ``SCORE_TOL``, in the same order except among
documents whose scores tie within ``SCORE_TOL``. Engines that sum the
same BM25 terms in another order differ in the last bit (~1e-17), which
is enough to flip the doc-id tie-break between exact ties. Boolean
answers must be the oracle's documents.
"""

from __future__ import annotations

import json

SCORE_TOL = 1e-9
K = 100


def check_index(out, oracle) -> list[str]:
    """Index contents vs the oracle: num_docs, and (term, df) pairs."""
    import pyarrow.dataset as ds

    wrong = []
    stats = json.loads((out / "stats" / "data.json").read_text())
    if stats["num_docs"] != len(oracle.urls):
        wrong.append(f"num_docs {stats['num_docs']} != oracle {len(oracle.urls)}")
    v = ds.dataset(str(out / "vocabulary"), format="parquet").to_table(columns=["term", "df"])
    got = dict(zip(v["term"].to_pylist(), v["df"].to_pylist()))
    if got != dict(zip(oracle.terms, oracle.dfs)):
        wrong.append("vocabulary (term, df) differs from the oracle")
    return wrong


def check_answer(oracle, query: str, boolean: bool, got: list[tuple[int, float]]) -> str | None:
    """-> None when ``got`` ([(doc_id, score)]) is the oracle's answer,
    else what differs."""
    from search_rs_spark.oracle import oracle_boolean_query, oracle_free_query

    if boolean:
        want = sorted(d for d, _, _ in oracle_boolean_query(oracle, query))
        return None if sorted(d for d, _ in got) == want else "doc ids differ"
    ranking = [(d, s) for d, _, s in oracle_free_query(oracle, query, len(oracle.urls))]
    want = ranking[:K]
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return f"{len(got)} docs, oracle {len(want)}"
    score = dict(ranking)
    for i, ((d, s), (_, ws)) in enumerate(zip(got, want)):
        if abs(s - ws) > SCORE_TOL:
            return f"rank {i}: score {s!r}, oracle {ws!r}"
        if d not in score or abs(score[d] - ws) > SCORE_TOL:
            return f"rank {i}: doc {d} does not tie the oracle's doc there"
    return None
