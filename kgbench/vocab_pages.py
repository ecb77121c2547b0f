"""Open-vocabulary page generator for the ``build_open_vocab`` workload.

The repository's fixture corpus (``clip_retrieval_spark.fixtures``) draws
its entities from a closed list of 68 surfaces, so entity linking and
canonicalization never do real work on it. This generator makes a
vocabulary of ``n_entities`` synthetic organisations instead. Each one has
three surfaces:

* the base name, e.g. ``Brolati Venkasu``;
* the base name plus a corporate designator (``Brolati Venkasu Labs``),
  which ``materialize.normalized_surface`` folds back onto the base;
* a one-letter typo of the base (``Brolati Venkisu``), which only the
  LSH + cosine path of ``materialize.entity_merge_edges`` can merge.

Mentions are Zipf-distributed over entity rank, and every page sentence has
the shape TRIPLE SPEC v1 extracts (``<Subj> <verb> <Obj>.`` or
``<Subj> is based in <Obj>.``), wrapped in the same kinds of boilerplate
markup the extraction spec removes.

A page depends only on ``(seed, n_entities, page_id)``, so generation is
order-independent: ``pages_df`` (``spark.range`` -> ``mapInPandas``, as
``fixtures.pages_df`` does) and ``gen_page`` on the driver give identical
rows.
"""

from __future__ import annotations

import bisect
import datetime as _dt
import random
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from clip_retrieval_spark.fixtures import PAGES_SCHEMA

_EPOCH = _dt.datetime(2024, 1, 1)
_ZIPF_S = 1.1
_N_HOSTS = 50

_ONSETS = "b br c d dr f g k kr l m n p pl r s st t tr v z".split()
_VOWELS = "a e i o u ai ea ou".split()
_CODAS = ("", "", "", "n", "r", "s", "x")
DESIGNATORS = (
    "Corp", "Inc", "Labs", "Group", "Holdings", "Industries", "Systems",
    "Ltd",
)
VERBS = (
    "acquired", "founded", "launched", "bought", "hired", "owns",
    "operates", "backs", "supplies", "funds", "partnered with",
    "invested in",
)
FILLER = (
    "the quarterly numbers came in above expectations.",
    "analysts expect further consolidation next year.",
    "a spokesperson declined to comment &amp; gave no timeline.",
    "the deal is subject to regulatory approval.",
    "shares moved little after the caf&#233; briefing.",
)
_NAV = "<nav><ul><li>Markets</li><li>Companies</li><li>Contact</li></ul></nav>"
_FOOTER = "<footer>Copyright 2024 Example Wire. All rights reserved.</footer>"
_SCRIPT = "<script>window.dl = [{page: 'article'}];</script>"
_STYLE = "<style>article { max-width: 40em; }</style>"


def _word(rng: random.Random) -> str:
    syl = [
        rng.choice(_ONSETS) + rng.choice(_VOWELS)
        for _ in range(rng.randint(2, 3))
    ]
    return ("".join(syl) + rng.choice(_CODAS)).capitalize()


def _typo(base: str, rng: random.Random) -> str:
    """Replace one non-initial letter of the longest word."""
    words = base.split(" ")
    i = max(range(len(words)), key=lambda j: len(words[j]))
    w = words[i]
    pos = rng.randrange(1, len(w))
    ch = rng.choice([c for c in "aeiouklmnrst" if c != w[pos]])
    words[i] = w[:pos] + ch + w[pos + 1:]
    return " ".join(words)


class Vocabulary:
    """``n_entities`` organisations, each a list of three surfaces, and the
    Zipf CDF over their rank. Depends only on ``(seed, n_entities)``."""

    def __init__(self, seed: int, n_entities: int) -> None:
        rng = random.Random(f"vocab/{seed}/{n_entities}")
        bases: list[str] = []
        seen: set[str] = set()
        while len(bases) < n_entities:
            name = f"{_word(rng)} {_word(rng)}"
            if name not in seen:
                seen.add(name)
                bases.append(name)
        self.surfaces = [
            [b, f"{b} {rng.choice(DESIGNATORS)}", _typo(b, rng)]
            for b in bases
        ]
        cdf, acc = [], 0.0
        for r in range(1, n_entities + 1):
            acc += 1.0 / r**_ZIPF_S
            cdf.append(acc)
        self._cdf = cdf

    def mention(self, rng: random.Random) -> str:
        ent = bisect.bisect_left(self._cdf, rng.random() * self._cdf[-1])
        r = rng.random()
        variant = 0 if r < 0.6 else (1 if r < 0.85 else 2)
        return self.surfaces[ent][variant]


def gen_page(page_id: int, seed: int, vocab: Vocabulary) -> tuple:
    """One page row in ``PAGES_SCHEMA`` order."""
    rng = random.Random(f"page/{seed}/{page_id}")
    host = f"wire{rng.randrange(_N_HOSTS):02d}.example.org"
    url = f"https://{host}/story/{page_id}"
    ts = _EPOCH + _dt.timedelta(seconds=page_id * 53)
    paras = []
    for _ in range(rng.randint(2, 12)):
        sents = []
        for _ in range(rng.randint(1, 4)):
            r = rng.random()
            if r < 0.6:
                sents.append(
                    f"{vocab.mention(rng)} {rng.choice(VERBS)} "
                    f"{vocab.mention(rng)}."
                )
            elif r < 0.75:
                sents.append(
                    f"{vocab.mention(rng)} is based in {vocab.mention(rng)}."
                )
            else:
                sents.append(rng.choice(FILLER).capitalize())
        body = " ".join(sents)
        if rng.random() < 0.2:
            body = f"<em>{body}</em>"
        paras.append(f"<p>{body}</p>")
    html = (
        f"<html><head><title>Story {page_id}</title>{_STYLE}</head>"
        f"<body>{_NAV}<!-- story {page_id} --><article>{''.join(paras)}"
        f"</article>{_SCRIPT}{_FOOTER}</body></html>"
    )
    return (url, ts, html.encode("utf-8"), "", "en")


def pages_df(
    spark: SparkSession, n_pages: int, n_entities: int, seed: int
) -> DataFrame:
    """Distributed generation: ``spark.range`` -> ``mapInPandas``."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        vocab = Vocabulary(seed, n_entities)
        for pdf in batches:
            rows = [gen_page(int(i), seed, vocab) for i in pdf["id"]]
            yield pd.DataFrame(
                rows, columns=["url", "warc_ts", "html", "text", "lang"]
            )

    return spark.range(n_pages).mapInPandas(_gen, schema=PAGES_SCHEMA)
