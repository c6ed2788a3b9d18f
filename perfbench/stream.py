"""Seeded workload inputs: the transcript corpus, the write batches and the
query stream. Everything here is derived from the ``--seed`` argument, and
nothing here is timed: the engine only ever sees the generated inputs."""

from __future__ import annotations

import random
from dataclasses import dataclass

import pandas as pd

from search_engine_spark.corpus import HEAD_TERMS, VOCAB, generate_conv

# Query classes, in the order one round of the stream visits them. Each class
# is one serving path of ``query.pipeline.search``.
CLASSES = ("wand", "df", "prefix", "phrase", "near", "binary", "nested")
# Classes the brute-force oracle scores (term, phrase, flat binary logical).
ORACLE_CLASSES = ("wand", "df", "phrase", "binary")
# The churn workload's reads, both oracle-scored: WAND free text (the path
# that consults the tombstone bloom) and binary AND of two phrases (which
# scores phrases too).
CHURN_CLASSES = ("wand", "binary")

_KEEP = frozenset(VOCAB) | frozenset(HEAD_TERMS)


def conversations(first: int, count: int, seed: int) -> pd.DataFrame:
    """Turns of conversations ``first .. first+count-1``; the generator is
    counter-based, so any range is reproducible on its own."""
    rows = [r for c in range(first, first + count) for r in generate_conv(c, seed)]
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Stores a transcript batch as the engine's input: a parquet file with
    UTC timestamps (read back as Spark ``timestamp``)."""
    out = pdf.assign(ts=pdf["ts"].dt.tz_localize("UTC"))
    out.to_parquet(path, index=False, coerce_timestamps="us")


def _content_words(text: str) -> list[str]:
    """The non-stopword, non-numeric words of a turn, in text order. The
    generator's only other tokens are stopwords and numerals, so two words
    adjacent here are adjacent in the analyzed position stream."""
    out = []
    for tok in text.split():
        w = tok.strip(".,").lower()
        if w in _KEEP:
            out.append(w)
    return out


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    engine: str


class QueryStream:
    """Rounds of one query per class, with operands drawn from the texts of
    the corpus so that phrase, NEAR and AND operands co-occur in some turn."""

    def __init__(self, corpus: pd.DataFrame, seed: int):
        self._rng = random.Random(seed * 7919 + 17)
        docs = [_content_words(t) for t in corpus["text"]]
        self._docs = [d for d in docs if len(d) >= 6]

    def _doc(self) -> list[str]:
        return self._rng.choice(self._docs)

    def _bigram(self, words: list[str]) -> str:
        i = self._rng.randrange(0, len(words) - 1)
        return f"{words[i]} {words[i + 1]}"

    def make(self, cls: str, op: str = "AND") -> Query:
        """One query of class ``cls``; ``op`` is the binary class's
        operator."""
        rng = self._rng
        if cls in ("wand", "df"):
            return Query(cls, " ".join(rng.sample(self._doc(), 3)), cls)
        if cls == "prefix":
            return Query(cls, rng.choice(self._doc())[:3] + "*", "wand")
        if cls == "phrase":
            return Query(cls, f'"{self._bigram(self._doc())}"', "df")
        if cls == "near":
            words, w = self._doc(), rng.randint(2, 5)
            i = rng.randrange(0, len(words) - 1)
            j = min(len(words) - 1, i + rng.randint(1, w))
            return Query(cls, f"{words[i]} NEAR/{w} {words[j]}", "df")
        if cls == "binary":
            words = self._doc()
            left, right = self._bigram(words[:3]), self._bigram(words[3:])
            if op != "AND":
                right = self._bigram(self._doc())
            return Query(cls, f'"{left}" {op} "{right}"', "df")
        if cls == "nested":
            a, b, c = self._bigram(self._doc()), self._bigram(self._doc()), self._bigram(self._doc())
            return Query(cls, f'("{a}" OR "{b}") NOT "{c}"', "df")
        raise ValueError(f"unknown query class {cls!r}")

    def round(self, classes=CLASSES, op: str = "AND") -> list[Query]:
        return [self.make(c, op) for c in classes]
