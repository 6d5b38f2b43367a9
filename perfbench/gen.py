"""Seeded inputs. The same seed gives the same transcripts, micro-batches
and query streams; the program under test only ever sees what these
functions produce.

Transcripts come from the package's seeded synthesizer (pandas form, so
generating them costs no Spark job) and are written to parquet before any
timing starts. Queries are drawn from the vocabulary of the generated
corpus, ranked by frequency, with Zipf weights over that rank."""

from __future__ import annotations

import string
from collections import Counter
from dataclasses import dataclass
from pathlib import Path
from urllib.parse import urlencode

import numpy as np
import pandas as pd

from mini_distributed_search_engine_spark.sources.transcripts import (
    ROLES, synthesize_transcripts_pdf)

STOP_WORDS = ("the", "and", "you", "are", "only", "may", "again", "any")

# One round of the serve mix: 20 requests whose class shares are 40% search
# (OR/AND, k=10), 10% role-filtered, 10% wide (k=500, 4+ terms with
# high-df ones), 15% phrase, 15% near and 10% proximity. The stream is made
# of whole rounds, each shuffled, so every run sees the same class mix.
SERVE_ROUND = (("search", 8), ("filtered", 2), ("wide", 2), ("phrase", 3),
               ("near", 3), ("proximity", 2))
ROUTES = {"search": "/search", "filtered": "/search", "wide": "/search",
          "phrase": "/phrase", "near": "/near", "proximity": "/proximity"}


def transcripts(n_convs: int, seed: int) -> pd.DataFrame:
    return synthesize_transcripts_pdf(n_convs, seed=seed)


def write_parquet(pdf: pd.DataFrame, path: Path) -> None:
    """One parquet file in directory ``path``; microsecond timestamps,
    the precision Spark reads."""
    path.mkdir(parents=True, exist_ok=True)
    pdf.to_parquet(path / "part-0.parquet", index=False,
                   coerce_timestamps="us")


def split_batches(pdf: pd.DataFrame, n_batches: int) -> list[pd.DataFrame]:
    """Consecutive conversation ranges, so conv ids increase from one
    micro-batch to the next (the append-only order the streaming indexer
    requires)."""
    convs = pdf["conv_id"].unique()
    return [pdf[pdf["conv_id"].isin(part)].reset_index(drop=True)
            for part in np.array_split(convs, n_batches)]


def vocabulary(texts) -> list[str]:
    """Whitespace tokens of the corpus, most frequent first."""
    counts = Counter(tok for t in texts for tok in t.split())
    return [tok for tok, _ in sorted(counts.items(),
                                     key=lambda kv: (-kv[1], kv[0]))]


class TermDraw:
    def __init__(self, vocab: list[str], rng: np.random.Generator):
        self.vocab = [t for t in vocab if t.lower() not in STOP_WORDS]
        w = 1.0 / np.arange(1, len(self.vocab) + 1)
        self.p = w / w.sum()
        self.rng = rng

    def zipf(self, n: int) -> list[str]:
        idx = self.rng.choice(len(self.vocab), size=n, replace=False,
                              p=self.p)
        return [self.vocab[i] for i in idx]

    def hot(self, n: int, top: int) -> list[str]:
        idx = self.rng.choice(min(top, len(self.vocab)), size=n,
                              replace=False)
        return [self.vocab[i] for i in idx]

    def no_hit(self) -> str:
        return "zq" + "".join(self.rng.choice(list(string.ascii_lowercase),
                                              size=6))


@dataclass(frozen=True)
class Request:
    cls: str
    params: tuple[tuple[str, str], ...]

    @property
    def q(self) -> str:
        return dict(self.params)["q"]

    @property
    def k(self) -> int:
        return int(dict(self.params).get("k", "10"))

    def get(self, key: str, default: str | None = None) -> str | None:
        return dict(self.params).get(key, default)

    def url(self, request_id: str | None = None) -> str:
        params = list(self.params)
        if request_id is not None:
            params.append(("rid", request_id))
        return f"{ROUTES[self.cls]}?{urlencode(params)}"


def _phrase(texts, rng: np.random.Generator, n_tokens: int) -> str:
    """``n_tokens`` consecutive tokens of a random document, so it hits."""
    while True:
        toks = texts[int(rng.integers(len(texts)))].split()
        if len(toks) >= n_tokens:
            at = int(rng.integers(len(toks) - n_tokens + 1))
            return " ".join(toks[at:at + n_tokens])


def serve_stream(texts, n_rounds: int, seed: int) -> list[Request]:
    """The serve request stream: ``n_rounds`` shuffled rounds of
    SERVE_ROUND. Search requests include one no-hit and one stop-word-heavy
    query per round, the cases the old fixed query list covered."""
    rng = np.random.default_rng([seed, 1])
    draw = TermDraw(vocabulary(texts), rng)
    out: list[Request] = []
    for _ in range(n_rounds):
        rnd: list[Request] = []
        for cls, count in SERVE_ROUND:
            for i in range(count):
                if cls == "search":
                    terms = draw.zipf(int(rng.integers(1, 4)))
                    if i == 0:
                        terms = [draw.no_hit()] + terms[:1]
                    elif i == 1:
                        terms = list(rng.choice(STOP_WORDS, size=2,
                                                replace=False)) + terms[:1]
                    mode = "and" if rng.random() < 0.5 else "or"
                    p = (("q", " ".join(terms)), ("k", "10"), ("mode", mode))
                elif cls == "filtered":
                    role = ROLES[int(rng.integers(len(ROLES)))]
                    p = (("q", " ".join(draw.zipf(int(rng.integers(1, 3))))),
                         ("k", "10"), ("mode", "or"), ("role", role))
                elif cls == "wide":
                    terms = draw.hot(2, top=5)
                    n_terms = 2 + int(rng.integers(2, 4))
                    while len(terms) < n_terms:
                        terms += [t for t in draw.zipf(1) if t not in terms]
                    p = (("q", " ".join(terms)), ("k", "500"),
                         ("mode", "or"))
                elif cls == "phrase":
                    p = (("q", _phrase(texts, rng, int(rng.integers(2, 4)))),
                         ("k", "10"))
                elif cls == "near":
                    p = (("q", " ".join(draw.hot(2, top=10))), ("k", "10"),
                         ("window", "8"))
                else:
                    p = (("q", " ".join(draw.zipf(int(rng.integers(2, 4))))),
                         ("k", "10"))
                rnd.append(Request(cls, p))
        out.extend(rnd[i] for i in rng.permutation(len(rnd)))
    return out


def repeat_term_share(texts_of_queries) -> float:
    """Share of queries whose terms all appeared in an earlier query: the
    input property a query-side cache depends on."""
    seen: set[str] = set()
    repeats = n = 0
    for text in texts_of_queries:
        terms = set(text.lower().split())
        n += 1
        repeats += bool(terms) and terms <= seen
        seen |= terms
    return repeats / n if n else 0.0


@dataclass(frozen=True)
class IngestQuery:
    cls: str            # "search" (wand_topk) or "phrase"
    text: str
    k: int = 10


def ingest_queries(texts, seed: int) -> list[IngestQuery]:
    """The fixed query set run after every micro-batch."""
    rng = np.random.default_rng([seed, 2])
    draw = TermDraw(vocabulary(texts), rng)
    return [
        IngestQuery("search", " ".join(draw.zipf(2))),
        IngestQuery("search", " ".join(draw.hot(2, top=5) + draw.zipf(2)),
                    k=100),
        IngestQuery("phrase", _phrase(texts, rng, 2)),
    ]
