"""Query-time snippet extraction + highlighting (T5/T8).

The reference precomputes up to 3 snippets per (term, doc) at index time
(``Indexer/Indexer.java:261-301,363-381``) — which does not scale to 10^12
turns — then re-ranks/joins them at query time
(``QueryProcessor.java:596-707``). Here snippets are computed lazily on the
FINAL top-k rows only (SURVEY.md T5 note): ±150-char window around the first
matching token, snapped to sentence bounds, with ``<strong>`` highlighting of
query tokens preserving original case (``QueryProcessor.java:667-689``).
Runs on the driver over the <= k texts of the enrichment probe
(``pipeline.search``): the work is microseconds per text, while a Spark UDF
over the same k rows needs its own job and a join back to the ranked rows
(measured ~0.9 s median per served query on a 600-conversation index,
4-core host).
"""

from __future__ import annotations

import re

WINDOW = 150  # chars each side, Indexer.java:266


MAX_WINDOWS = 3  # Indexer.java:380 keeps the best 3 snippets


def _window(text: str, hit: int) -> tuple[int, int]:
    """±WINDOW chars around ``hit``, snapped to sentence bounds
    (Indexer.java:272-287)."""
    start = max(0, hit - WINDOW)
    end = min(len(text), hit + WINDOW)
    dot = text.rfind(". ", 0, start)
    if dot >= 0 and start - dot < WINDOW:
        start = dot + 2
    dot = text.find(". ", end)
    if dot >= 0 and dot - end < WINDOW:
        end = dot + 1
    return start, end


def window_spans(
    text: str,
    query_tokens: list[str],
    prefixes: list[str] | None = None,
) -> list[tuple[str, int, int]]:
    """Raw (term, start, end) context-window spans BEFORE merging: one per
    query token's first occurrence (the _window arithmetic incl. sentence
    snapping, Indexer.java:272-287). Exposed separately so the span math has
    a SQL-expressible oracle (__spark_entry__: ``snippet_spans``); merging/
    ranking/assembly are covered by pytest golden tests. ``prefixes``
    (wildcard query tokens) anchor a window at the first WORD-INITIAL
    occurrence of the prefix."""
    low = text.lower()
    out = []
    for tok in query_tokens:
        p = low.find(tok.lower())
        if p >= 0:
            s, e = _window(text, p)
            out.append((tok, s, e))
    for pre in prefixes or []:
        m = re.search(r"\b" + re.escape(pre.lower()), low)
        if m:
            s, e = _window(text, m.start())
            out.append((pre, s, e))
    return out


def extract_windows(
    text: str,
    query_tokens: list[str],
    prefixes: list[str] | None = None,
) -> list[str]:
    """Candidate context windows: one per query token's first occurrence,
    deduplicated/merged when they overlap, ranked complete-sentence-first
    then longer (the reference's snippet sort, Indexer.java:374-379), best
    MAX_WINDOWS kept."""
    spans = [(s, e) for _, s, e in window_spans(text, query_tokens, prefixes)]
    if not spans:
        return []
    # merge overlapping spans
    spans.sort()
    merged = [spans[0]]
    for s, e in spans[1:]:
        if s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(e, merged[-1][1]))
        else:
            merged.append((s, e))
    windows = [text[s:e].strip() for s, e in merged]
    # complete sentences first, then longer (Indexer.java:374-379)
    windows.sort(key=lambda w: (0 if "." in w else 1, -len(w)))
    return windows[:MAX_WINDOWS]


def highlight(
    snippet: str,
    query_tokens: list[str],
    prefixes: list[str] | None = None,
) -> str:
    """Case-preserving <strong> wrap (QueryProcessor.java:667-689).
    ``query_tokens`` match whole words; ``prefixes`` (wildcard tokens)
    match any word starting with the prefix."""
    alts = [re.escape(t) + r"\b" for t in query_tokens]
    alts += [re.escape(p) + r"\w*" for p in prefixes or []]
    if not alts or not snippet:
        return snippet
    pat = re.compile(r"\b(" + "|".join(alts) + r")", re.IGNORECASE)
    return pat.sub(lambda m: f"<strong>{m.group(1)}</strong>", snippet)


def make_snippet(
    text: str,
    query_tokens: list[str],
    prefixes: list[str] | None = None,
) -> str:
    """Best-snippet assembly for one doc: up to MAX_WINDOWS merged context
    windows (joined ' ... ' like the reference's multi-term snippet join,
    QueryProcessor.java:690-707), highlighted."""
    if not text:
        return ""
    windows = extract_windows(text, query_tokens, prefixes)
    if not windows:
        snippet = text[: 2 * WINDOW]
    else:
        snippet = " ... ".join(windows)
    return highlight(snippet, query_tokens, prefixes).strip()
