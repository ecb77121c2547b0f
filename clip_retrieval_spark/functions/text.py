"""Normative text-processing spec: HTML->text extraction and OpenIE-style
triple extraction.

These pure functions ARE the spec. The Spark operators apply them inside
Arrow-batched ``mapInArrow`` (never per-row Python UDFs); the independent
oracle in ``tests/oracle.py`` re-implements the same spec with a different
code path (html.parser.HTMLParser) and the test suite asserts byte-identical
text per url — the analog of the reference's sequential-vs-pyspark
distributor equivalence test
(reference tests/test_clip_inference/test_distributor.py:9-52).

Determinism rules (SURVEY.md §7.5): pure string ops only; no locale, no
dict-order dependence, no floats.

== EXTRACTION SPEC v1 ==

Input: raw html bytes. Output: extracted text (str, no trailing newline).

 1. Decode UTF-8 with errors="replace".
 2. Remove HTML comments ``<!-- ... -->`` (non-greedy; an unterminated
    comment removes to end of document).
 3. Remove boilerplate/opaque elements WITH their content:
    script, style, noscript, template, nav, footer, header, aside
    (case-insensitive; non-nesting; an unterminated element removes to
    end of document).
 4. Delete inline formatting tags (keep their text):
    a abbr b bdi bdo cite code data dfn em i kbd mark q s samp small
    span strong sub sup time u var wbr.
 5. Replace every remaining tag ``<[a-zA-Z/!][^>]*>`` with a newline.
 6. Unescape HTML character references once (html.unescape).
 7. Whitespace canonicalization: split on "\\n"; within each line collapse
    runs of [ \\t\\r\\f\\v\\xa0] to one space and strip; drop empty lines;
    join surviving lines with "\\n".

== TRIPLE SPEC v1 ==

Input: extracted text. Output: list of
``(sent_id, subj, pred, obj, subj_start, subj_end, obj_start, obj_end)``
(token spans, [start, end)).

 1. Sentences: per text line (order preserved), split on whitespace
    following ``.``/``!``/``?``; global 0-based sent_id across the page.
 2. Tokens: regex ``[A-Za-z0-9][A-Za-z0-9&'\\-]*`` (keeps "O'Brien",
    "e-Corp", "AT&T"; sheds punctuation).
 3. Entity chunk: maximal run of consecutive tokens starting [A-Z],
    excluding a single-token chunk in {The, A, An, This, It, But, And}.
 4. For each pair of CONSECUTIVE chunks (c1, c2) in a sentence, with gap
    = tokens strictly between: emit (c1, gap, c2) iff
      a. 1 <= len(gap) <= 5 and every gap token is ^[a-z]+$,
      b. and one of:
         - gap[0] in VERB_LEX;
         - len(gap[0]) > 3 and gap[0] ends with "ed" or "es";
         - len(gap) >= 2 and gap[0] in COPULA and gap[-1] in PREP.
 5. subj/pred/obj = the space-joined token runs.
"""

from __future__ import annotations

import html as _html
import re

# --- extraction -------------------------------------------------------------

_REMOVE_ELEMENTS = (
    "script", "style", "noscript", "template", "nav", "footer", "header",
    "aside",
)
INLINE_TAGS = frozenset(
    "a abbr b bdi bdo cite code data dfn em i kbd mark q s samp small "
    "span strong sub sup time u var wbr".split()
)

_COMMENT_RE = re.compile(r"<!--.*?(?:-->|\Z)", re.DOTALL)
_REMOVE_RE = re.compile(
    r"<(%s)\b[^>]*>.*?(?:</\1\s*>|\Z)" % "|".join(_REMOVE_ELEMENTS),
    re.DOTALL | re.IGNORECASE,
)
_INLINE_RE = re.compile(
    r"</?(%s)\b[^>]*>" % "|".join(sorted(INLINE_TAGS)), re.IGNORECASE
)
_TAG_RE = re.compile(r"<[a-zA-Z/!][^>]*>")
# every run of [ \t\r\f\v\xa0] except a lone space, which already is its
# own canonical form: rewriting it with itself is most of the matches on
# real text and all of them wasted
_WS_RE = re.compile(r"[\t\r\f\v\xa0][ \t\r\f\v\xa0]*| [ \t\r\f\v\xa0]+")


def extract_text(html_bytes: bytes | str | None) -> str:
    """EXTRACTION SPEC v1 (module docstring). Deterministic, pure."""
    if html_bytes is None:
        return ""
    if isinstance(html_bytes, (bytes, bytearray, memoryview)):
        doc = bytes(html_bytes).decode("utf-8", errors="replace")
    else:
        doc = html_bytes
    doc = _COMMENT_RE.sub("", doc)
    doc = _REMOVE_RE.sub("", doc)
    doc = _INLINE_RE.sub("", doc)
    doc = _TAG_RE.sub("\n", doc)
    doc = _html.unescape(doc)
    # one whole-document WS collapse == the per-line collapse (the WS
    # class contains no "\n", so no run ever spans a line break), then
    # a strip per line; byte-identical, one C-level pass instead of
    # one regex invocation per line
    doc = _WS_RE.sub(" ", doc)
    return "\n".join(
        s for s in (line.strip() for line in doc.split("\n")) if s
    )


# --- triple extraction ------------------------------------------------------

VERB_LEX = frozenset(
    "acquired founded launched announced bought sold hired joined leads "
    "owns operates merged partnered invested employs produces develops "
    "makes runs built created opened serves supplies funds backs".split()
)
COPULA = frozenset("is was are were has had have will".split())
PREP = frozenset("in of by at for with on to".split())
_CHUNK_STOP = frozenset("The A An This It But And".split())

_SENT_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")
_TOKEN_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9&'\-]*")
_LOWER_RE = re.compile(r"^[a-z]+$")
# two entity chunks need two tokens opening with A-Z, so a sentence with
# fewer than two A-Z letters cannot yield a triple
_TWO_CAPS_RE = re.compile(r"[A-Z][^A-Z]*[A-Z]")


def _is_predicate(gap: list[str]) -> bool:
    if not 1 <= len(gap) <= 5:
        return False
    for tok in gap:
        if not _LOWER_RE.match(tok):
            return False
    head = gap[0]
    if head in VERB_LEX:
        return True
    if len(head) > 3 and (head.endswith("ed") or head.endswith("es")):
        return True
    if len(gap) >= 2 and head in COPULA and gap[-1] in PREP:
        return True
    return False


def sentences(text: str) -> list[str]:
    """Sentence stream per TRIPLE SPEC v1 step 1."""
    out = []
    for line in text.split("\n"):
        for sent in _SENT_SPLIT_RE.split(line):
            sent = sent.strip()
            if sent:
                out.append(sent)
    return out


def _chunks(tokens: list[str]) -> list[tuple[int, int]]:
    """Maximal capitalized runs as [start, end) spans."""
    # precompute the cap flag once per token (the run scan below would
    # otherwise test most tokens twice); tokens open with [A-Za-z0-9], so
    # "opens with A-Z" is one string comparison
    caps = ["A" <= t < "[" for t in tokens]
    spans = []
    i, n = 0, len(tokens)
    while i < n:
        if caps[i]:
            j = i + 1
            while j < n and caps[j]:
                j += 1
            if not (j - i == 1 and tokens[i] in _CHUNK_STOP):
                spans.append((i, j))
            i = j
        else:
            i += 1
    return spans


def extract_triples(
    text: str,
) -> list[tuple[int, str, str, str, int, int, int, int]]:
    """TRIPLE SPEC v1 (module docstring). Deterministic, pure."""
    out = []
    for sent_id, sent in enumerate(sentences(text)):
        if not _TWO_CAPS_RE.search(sent):
            continue
        tokens = _TOKEN_RE.findall(sent)
        spans = _chunks(tokens)
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            gap = tokens[e1:s2]
            if _is_predicate(gap):
                out.append(
                    (
                        sent_id,
                        " ".join(tokens[s1:e1]),
                        " ".join(gap),
                        " ".join(tokens[s2:e2]),
                        s1, e1, s2, e2,
                    )
                )
    return out
