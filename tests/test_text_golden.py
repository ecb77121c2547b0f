"""Pinned spec outputs on a seeded fuzz corpus.

``tests/oracle.py`` re-implements the spec with ``html.parser`` and is
byte-identical to ``functions/text.py`` on the fixture corpora, not on
arbitrary markup. This corpus goes where the fixtures do not: lone
spaces next to mixed ``\\xa0``/tab/``\\r`` runs, one-capital sentences,
capitals inside tokens (``iPhone``), ``AT&T``/``O'Brien``/digit-led
tokens, unterminated comments and remove-elements, stray entities and
invalid UTF-8. The md5 of the spec's outputs over it is pinned, so a
faster spec must produce the same bytes, not only the same oracle
agreement.
"""

from __future__ import annotations

import hashlib
import random

from clip_retrieval_spark.functions.text import extract_text, extract_triples

N_DOCS = 3_000

_WORDS = (
    "acme globex initech hooli umbrella the a an this it but and "
    "acquired founded owns backs donated based is was has will in of by "
    "at for with on to one two three xQ7 iPhone eBay AT&T O'Brien e-Corp "
    "3M 7-Eleven 42 Acme Globex Initech Hooli Umbrella Labs Corp Systems "
    "The A An This It But And Springfield Zeta Q"
).split()
_SPACES = (
    " ", " ", " ", "  ", "\xa0", "\t", "\r", "\f", "\v", " \xa0 ", "\t\t ",
    "\xa0\xa0", " \t", "\r\n", "\n", "\n\n ",
)
_MARKUP = (
    "<p>", "</p>", "<b>", "</b>", "<span class=x>", "</span>", "<div>",
    "</div>", "<br/>", "<li>", "<A href='u'>", "</a>", "<!-- note -->",
    "<!-- unterminated ", "<script>var x = 'A B';</script>", "<style>",
    "<nav>Home About</nav>", "<SCRIPT>", "</script >", "<footer>",
    "<!DOCTYPE html>", "<h1>", "</h1>", "<wbr>", "< p>", "a<b", "x > y",
)
_ENTITIES = ("&amp;", "&nbsp;", "&#160;", "&lt;", "&gt;", "&#233;", "&bogus;",
             "&amp;nbsp;", "&#x41;", "&quot;")
_PUNCT = (". ", "! ", "? ", ".", ",", ";", "'", "-", ".\t", "?\xa0")
_NAMES = ("Acme", "Globex Corp", "Initech", "Hooli", "Umbrella Labs", "AT&T",
          "O'Brien", "The", "It", "The Zeta Group", "iPhone", "3M", "Q",
          "e-Corp", "Beta-Max", "Springfield")
_GAP = ("acquired", "owns", "backs", "donated", "founded", "donates", "is",
        "was based", "in", "of", "has", "to", "red", "uses", "xQ7", "42",
        "the", "and", "by", "its", "new", "big")


def _sentence(rng: random.Random) -> str:
    """Name, a gap of 0-6 words, name, ...: sentences shaped like the
    triple spec's input, so the pin covers emitted triples too."""
    words = [rng.choice(_NAMES)]
    for _ in range(rng.randint(1, 3)):
        words += [rng.choice(_GAP) for _ in range(rng.randint(0, 6))]
        words.append(rng.choice(_NAMES))
    seps = [rng.choice(_SPACES[:6]) for _ in words]
    return "".join(w + s for w, s in zip(words, seps)) + rng.choice(_PUNCT)


def _doc(rng: random.Random) -> bytes:
    parts = []
    for _ in range(rng.randint(5, 80)):
        r = rng.random()
        if r < 0.10:
            parts.append(_sentence(rng))
        elif r < 0.45:
            parts.append(rng.choice(_WORDS))
        elif r < 0.70:
            parts.append(rng.choice(_SPACES))
        elif r < 0.85:
            parts.append(rng.choice(_MARKUP))
        elif r < 0.92:
            parts.append(rng.choice(_PUNCT))
        else:
            parts.append(rng.choice(_ENTITIES))
    raw = "".join(parts).encode("utf-8")
    if rng.random() < 0.05:
        cut = rng.randint(0, len(raw))
        raw = raw[:cut] + b"\xff\xfe" + raw[cut:]
    return raw


def corpus() -> list[bytes]:
    rng = random.Random(20221)
    return [_doc(rng) for _ in range(N_DOCS)]


def _md5(parts) -> str:
    h = hashlib.md5()
    for p in parts:
        h.update(p.encode("utf-8", errors="surrogatepass"))
        h.update(b"\x1e")
    return h.hexdigest()


# taken from the spec before its hot loops were optimised; a change here
# is a change of EXTRACTION SPEC v1 or TRIPLE SPEC v1
TEXT_MD5 = "a968006bab339dfe040dcc34379e9f29"
TRIPLES_MD5 = "ed7f3a79f1d99c64d13717bbed32d70d"


def test_corpus_covers_the_edge_cases():
    docs = corpus()
    joined = b"".join(docs)
    for needle in (b"\xc2\xa0", b"\t", b"\r", b"iPhone", b"AT&T",
                   b"O'Brien", b"3M", b"<!-- unterminated", b"<SCRIPT>",
                   b"\xff"):
        assert needle in joined, needle
    texts = [extract_text(d) for d in docs]
    assert sum(t == "" for t in texts) > 10
    # one-capital sentences are present and yield nothing
    assert extract_triples("Acme owns globex.") == []


def test_extract_text_pinned():
    assert _md5(extract_text(d) for d in corpus()) == TEXT_MD5


def test_extract_triples_pinned():
    docs = corpus()
    # both the extracted text and the raw markup (tabs, \xa0 and \r
    # inside sentences) go through the triple spec
    inputs = [extract_text(d) for d in docs]
    inputs += [d.decode("utf-8", errors="replace") for d in docs]
    assert _md5(repr(extract_triples(t)) for t in inputs) == TRIPLES_MD5
