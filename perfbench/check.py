"""Correctness of served top-k against the brute-force oracle
(``search_engine_spark.oracle``) for the families it scores: term, phrase
and flat binary AND/OR/NOT."""

from __future__ import annotations

import pandas as pd

from search_engine_spark.oracle import build_oracle_index, score_query, topk

SCORE_TOL = 1e-6


class Oracle:
    """Exhaustive scorer over ``corpus``: every turn written so far, whose
    (conv_id, turn_idx) order is the doc-id order. ``live`` keeps only the
    surviving doc ids and derives the statistics from them, as compaction
    does; survivors keep their original ids."""

    def __init__(self, corpus: pd.DataFrame, live: set[int] | None = None):
        ordered = corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        self._ids = sorted(live) if live is not None else None
        if self._ids is not None:
            ordered = ordered.loc[self._ids].reset_index(drop=True)
        self._index = build_oracle_index(ordered)

    def expected(self, query: str, k: int) -> list[tuple[int, float]]:
        scores = score_query(self._index, query)
        if self._ids is not None:
            scores = {self._ids[d]: s for d, s in scores.items()}
        return topk(scores, k)


def mismatch(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """None when the ranked lists agree in doc-id order and in score."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"doc ids {[d for d, _ in got]} != oracle {[d for d, _ in want]}"
    for (d, gs), (_, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL * max(1.0, abs(ws)):
            return f"doc {d} score {gs!r} != oracle {ws!r}"
    return None
