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

A second, hand-written edge corpus (``edge_corpus``) names every tag the
spec treats specially, in every case shape, next to near-miss names that
must stay ordinary tags; whitespace that only appears once entities are
unescaped; and the boundaries of the triple spec's gap test. Its outputs
are pinned the same way.

A third (``space_corpus``) aims at the Arrow batch kernel of the triple
spec: every ``str.isspace()`` code point, NUL, zero-width characters,
``[&'-]``-led tokens and non-ASCII letters. ``reference_triples`` keeps
the per-sentence Python loop the kernel replaced, and a Hypothesis test
compares the two.
"""

from __future__ import annotations

import hashlib
import itertools
import random
import re

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from clip_retrieval_spark.functions.text import (
    _CHUNK_STOP,
    _INLINE_RE,
    _REMOVE_ELEMENTS,
    _REMOVE_RE,
    _WS_RE,
    COPULA,
    INLINE_TAGS,
    PREP,
    VERB_LEX,
    extract_text,
    extract_triples,
    extract_triples_batch,
)

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


# the code points for which str.isspace() is true: what the triple spec's
# \s and str.strip() match, ASCII or not
_ISSPACE = tuple(c for c in map(chr, range(0x3001)) if c.isspace())
_ZERO_WIDTH = ("\x00", "\u200b", "\u200c", "\u200d", "\u2060", "\ufeff",
               "\xad")
_PUNCT_LED = ("-Acme", "&Globex", "'Initech", "--Hooli", "&'-Zeta", "-owns",
              "'acquired", "&-", "'", "-&", "-42", "A-", "B&")
_NON_ASCII = ("\xc9mile", "\xdcber", "\u03a9mega", "Stra\xdfe", "\u0130stanbul",
              "\xc5cme", "na\xefve", "\u4e2d\u6587", "\U0001f600", "\u01c4", "\uff21cme")
_MARKS = (".", "!", "?", "?!", "...", ".\"", "!)")


def _space_text(rng: random.Random) -> str:
    lines = []
    for _ in range(rng.randint(1, 6)):
        parts = []
        for _ in range(rng.randint(0, 16)):
            r = rng.random()
            pool = (_NAMES if r < 0.35 else _GAP if r < 0.65 else
                    _PUNCT_LED if r < 0.73 else _NON_ASCII if r < 0.8 else
                    _ZERO_WIDTH if r < 0.86 else _MARKS)
            parts.append(rng.choice(pool))
            parts.append(rng.choice(_ISSPACE) if rng.random() < 0.3 else " ")
        edges = [rng.choice(_ISSPACE) * rng.randint(0, 2) for _ in "ab"]
        lines.append(edges[0] + "".join(parts) + edges[1])
    return "\n".join(lines)


def space_corpus() -> list[str]:
    """Texts for the triple spec alone: every whitespace code point at the
    edges of a line and after each mark, NUL and zero-width characters,
    tokens led by [&'-], non-ASCII letters, then seeded fuzz of the same
    atoms around entity-shaped sentences."""
    texts = [
        f"{c}Acme owns Globex{m}{c}Initech backs Hooli{m}{c}{c}\n"
        f"{c}The Zeta Group is based in Q{m}{c}\n{c}\n{c}Acme{c}acquired"
        f"{c}Globex{c}"
        for c in _ISSPACE for m in ".!?"
    ]
    rng = random.Random(31337)
    texts += [_space_text(rng) for _ in range(N_DOCS)]
    return texts


# taken from the per-sentence spec that the Arrow batch kernel replaced
SPACE_TRIPLES_MD5 = "40b77c53034eb8e5a442fe03839728a9"
# lone surrogates cannot enter Arrow; the kernel reads them as U+FFFD,
# which is no whitespace, mark or token character either
SURROGATE_TRIPLES = {
    "Acme\ud800 owns Globex. \udfffInitech backs\udc00 Hooli.": [
        (0, "Acme", "owns", "Globex", 0, 1, 2, 3),
        (1, "Initech", "backs", "Hooli", 0, 1, 2, 3),
    ],
    "\ud83d The Zeta Group is based in Q.\ud800\nAcme acquired\udfff Globex": [
        (0, "The Zeta Group", "is based in", "Q", 0, 3, 6, 7),
        (1, "Acme", "acquired", "Globex", 0, 1, 2, 3),
    ],
    "Acme ow\ud800ns Globex. Hoo\udbffli backs Initech.": [],
}


def _case_shapes(name: str) -> list[str]:
    return [name, name.upper(), name[0].upper() + name[1:],
            name[:-1] + name[-1].upper()]


# tag names one edit away from a spec name: the tag stays an ordinary
# tag (a newline), its content stays
_NEAR_MISSES = ("b2", "abbrx", "spans", "bd", "su", "scripts", "navx",
                "header2", "ab", "bdx", "sampl", "wbrs", "templates", "as")
# names whose spec prefix ends on a word boundary: ``\b`` admits them as
# the spec name
_BOUNDARY_NAMES = ("sub-x", "b.c", "span:x", "script-x", "nav.y")
# sentences on the gap test's boundaries: gap length 5 vs 6, -ed/-es heads
# of length 3 vs 4, copula ... prep, digits, capitals and punctuation in
# the gap, and singleton stop chunks on either side
_GAP_SENTENCES = (
    "Acme acquired the big red old Globex.",
    "Acme acquired the big red old new Globex.",
    "Acme owns a b c d Globex.",
    "Acme owns a b c d e Globex.",
    "Acme red Globex.", "Acme bed Globex.", "Acme aced Globex.",
    "Acme uses Globex.", "Acme yes Globex.", "Acme eyes Globex.",
    "Acme ed Globex.", "Acme es Globex.",
    "Acme is based in Globex.", "Acme was in Globex.", "Acme is Globex.",
    "Acme has been with Globex.", "Acme is big near Globex.",
    "Acme will be a part of a b Globex.", "Acme is a b c to Globex.",
    "Acme acquired 3 Globex.", "Acme acquired x7 Globex.",
    "Acme acquired the 42nd Globex.", "Acme acquired iPhone Globex.",
    "Acme acquired o'neil Globex.", "Acme acquired e-mail Globex.",
    "Acme acquired, then Globex.", "Acme acquired eBay Globex.",
    "The owns Globex.", "Acme owns The.", "Acme owns The Globex.",
    "It acquired Globex and It.", "Acme owns But Globex owns And Initech.",
    "But And The A An This It.", "Acme owns Globex owns Initech owns Hooli.",
    "Acme\tacquired\xa0Globex.", "Acme acquired  Globex.",
    "Acme owns Globex. Initech was in Hooli! Umbrella backs Zeta? Q owns R",
)
# whitespace that only exists after html.unescape: no literal tab, \xa0
# or double space anywhere in the markup
_ENTITY_WS = ("&nbsp;", "&#160;", "&#xa0;", "&#9;", "&#11;", "&#12;",
              "&#13;", "&#32;", "&#10;", "&#x09;")


def edge_corpus() -> list[bytes]:
    docs = []
    for name in sorted(INLINE_TAGS):
        for shape in _case_shapes(name):
            docs.append(
                f"<p>Acme <{shape}>acquired</{shape}> Globex. "
                f"Initech <{shape} class='x' data-y=\"1\">owns</{shape} >"
                f" Hooli.<{shape}/>Zeta</p>"
            )
    for name in _REMOVE_ELEMENTS:
        for shape in _case_shapes(name):
            docs.append(
                f"Acme owns Globex.<{shape} id=a>Hidden Words</{shape}>"
                f"Initech backs Hooli.<{shape}>more</{name.upper()} >"
                f"Zeta owns Q.<{shape} x>to the end"
            )
    for name in _NEAR_MISSES + _BOUNDARY_NAMES:
        for shape in (name, name.upper()):
            docs.append(
                f"Acme<{shape}>owns</{shape}>Globex <{shape} a=b>"
                f"Initech acquired Hooli</{shape}> Zeta"
            )
    for i, sent in enumerate(_GAP_SENTENCES):
        docs.append(f"<li>{sent}</li>")
        docs.append(f"<p>{sent} <b>{_GAP_SENTENCES[i - 1]}</b></p>")
    for ent in _ENTITY_WS:
        docs.append(f"<p>Acme{ent}acquired Globex.</p>")
        docs.append(f"Acme owns{ent} Globex{ent}{ent}Initech")
        docs.append(f"{ent}Acme {ent} owns{ent}<br>{ent}Globex{ent}")
    return [d.encode("utf-8") for d in docs]


# taken from the spec before the tag alternations were grouped by first
# letter, the whitespace pattern opened with one class and the gap test
# became one match
EDGE_TEXT_MD5 = "abd206d01373469a9b4132a3f9e71e32"
EDGE_TRIPLES_MD5 = "52e95fafad2162cef979139ae2ceb4b0"


def triples_per_text(texts: list[str]) -> list[list[tuple]]:
    """``extract_triples`` of each text, from one batch call."""
    found = extract_triples_batch(pa.array(texts, pa.string()))
    out = [[] for _ in texts]
    for row, *triple in zip(*(c.to_pylist() for c in found.columns)):
        out[row].append(tuple(triple))
    return out


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
    assert _md5(map(repr, triples_per_text(inputs))) == TRIPLES_MD5


def test_edge_corpus_pinned():
    docs = edge_corpus()
    texts = [extract_text(d) for d in docs]
    assert _md5(texts) == EDGE_TEXT_MD5
    inputs = texts + [d.decode("utf-8") for d in docs]
    assert _md5(map(repr, triples_per_text(inputs))) == EDGE_TRIPLES_MD5


def test_space_corpus_pinned():
    texts = space_corpus()
    joined = "".join(texts)
    for needle in _ISSPACE + _ZERO_WIDTH + _PUNCT_LED + _NON_ASCII:
        assert needle in joined, repr(needle)
    found = triples_per_text(texts)
    assert sum(map(len, found)) > 1_000
    assert _md5(map(repr, found)) == SPACE_TRIPLES_MD5


def test_one_batch_equals_each_row_alone():
    """No sentence or token crosses a row: rows that end inside a token
    or a sentence, empty rows and nulls, in one batch and one by one."""
    texts = [
        "Acme owns", "Globex.", "", "Acme", "acquired Globex.", "\n",
        "Initech backs Hooli", " ", "Zeta is based in", "Q.", "Acme.",
        " Globex backs Q", "-Corp owns Hooli.", "\u3000", "AT&", "T owns Q",
    ] + space_corpus()[80:400]
    alone = [extract_triples(t) for t in texts]
    assert triples_per_text(texts) == alone
    assert sum(map(len, alone)) > 50
    with_nulls = extract_triples_batch(pa.array([None] + texts + [None]))
    assert with_nulls.column("row").to_pylist() == [
        i + 1 for i, found in enumerate(alone) for _ in found
    ]
    assert extract_triples_batch(pa.array([], pa.string())).num_rows == 0
    assert extract_triples_batch(pa.array([None, ""], pa.string())).num_rows == 0


def test_lone_surrogates_pinned():
    for text, want in SURROGATE_TRIPLES.items():
        assert extract_triples(text) == want, repr(text)


_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")
_TOKEN_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9&'\-]*")


def reference_triples(text: str) -> list[tuple]:
    """TRIPLE SPEC v1 one sentence and one token at a time: the Python
    loop the batch kernel replaced, kept as its reference."""
    out = []
    sents = [piece for line in text.split("\n") if line.strip()
             for piece in _SENT_SPLIT_RE.split(line.strip())]
    for sent_id, sent in enumerate(sents):
        tokens = _TOKEN_RE.findall(sent)
        spans, start = [], None
        for i, tok in enumerate(tokens + [""]):
            if "A" <= tok[:1] <= "Z":
                start = i if start is None else start
            elif start is not None:
                if i - start > 1 or tokens[start] not in _CHUNK_STOP:
                    spans.append((start, i))
                start = None
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            gap = tokens[e1:s2]
            if not (1 <= len(gap) <= 5
                    and all(re.fullmatch("[a-z]+", g) for g in gap)):
                continue
            if (gap[0] in VERB_LEX
                    or (len(gap[0]) > 3 and gap[0].endswith(("ed", "es")))
                    or (len(gap) >= 2 and gap[0] in COPULA
                        and gap[-1] in PREP)):
                out.append((sent_id, " ".join(tokens[s1:e1]), " ".join(gap),
                            " ".join(tokens[s2:e2]), s1, e1, s2, e2))
    return out


def test_reference_reproduces_the_pins():
    texts = space_corpus()
    assert _md5(repr(reference_triples(t)) for t in texts) == (
        SPACE_TRIPLES_MD5)


_ATOMS = (_ISSPACE + _ZERO_WIDTH + _PUNCT_LED + _NON_ASCII + _MARKS + _NAMES
          + _GAP + tuple(sorted(PREP | COPULA)) + (" ", " ", "\n", "x"))


@settings(max_examples=200, deadline=None, derandomize=True)
@given(st.lists(st.lists(st.sampled_from(_ATOMS), max_size=40).map("".join),
                max_size=30))
def test_batch_equals_reference(texts):
    assert triples_per_text(texts) == [reference_triples(t) for t in texts]


def test_edge_corpus_exercises_every_path():
    docs = edge_corpus()
    texts = [extract_text(d) for d in docs]
    joined = "\n".join(texts)
    # removed elements and inline tags leave nothing; near misses and the
    # remaining tags become line breaks
    assert "Hidden" not in joined and "more" not in joined
    n_inline = 4 * len(INLINE_TAGS)
    assert set(texts[:n_inline]) == {
        "Acme acquired Globex. Initech owns Hooli.Zeta"
    }
    assert "Acme\nowns\nGlobex\nInitech acquired Hooli\nZeta" in texts
    # entity whitespace is collapsed like literal whitespace
    assert "Acme acquired Globex." in texts
    triples = [t for s in _GAP_SENTENCES for t in extract_triples(s)]
    preds = {t[2] for t in triples}
    assert "acquired the big red old" in preds
    assert "acquired the big red old new" not in preds
    assert {"aced", "uses", "eyes"} <= preds
    assert not {"red", "bed", "yes", "ed", "es", "is"} & preds
    assert {"is based in", "was in"} <= preds


def test_tag_tries_match_exactly_the_spec_names():
    names = INLINE_TAGS | set(_REMOVE_ELEMENTS)
    candidates = {n[:k] for n in names for k in range(1, len(n) + 1)}
    candidates |= {n + c for n in names for c in "aeiosx2"}
    for c in sorted(candidates):
        for shape in (c, c.upper()):
            inline = _INLINE_RE.fullmatch(f"</{shape} x=1>")
            assert bool(inline) == (c in INLINE_TAGS), shape
            removed = _REMOVE_RE.fullmatch(f"<{shape}>x</{shape} >")
            assert bool(removed) == (c in _REMOVE_ELEMENTS), shape
            assert not removed or removed.group(1) == shape


def test_ws_pass_collapses_every_run():
    # every run of the class becomes one space (a lone space is rewritten
    # with itself), over all strings of up to four characters
    ws = " \t\r\f\v\xa0"
    for n in range(1, 5):
        for chars in itertools.product(ws + "x\n", repeat=n):
            s = "".join(chars)
            assert _WS_RE.sub(" ", s) == re.sub(f"[{ws}]+", " ", s), repr(s)
