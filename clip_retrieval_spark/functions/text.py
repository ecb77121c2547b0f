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


def _trie(names) -> str:
    """Regex alternation matching exactly ``names``, grouped by first
    letter (``b(?:di|do)?`` for b, bdi, bdo): the engine tests each
    leading letter once instead of trying every name in turn, and the
    regex compiler factors what a group's tails share (``d[io]``). Behind
    the callers' ``\\b`` at most one name can match at a position (a name
    that is a prefix of another is followed by a word character there), so
    the order of the alternatives never changes a match."""
    heads: dict[str, list[str]] = {}
    for name in sorted(names):
        heads.setdefault(name[0], []).append(name[1:])
    return "|".join(
        head if tails == [""] else "%s(?:%s)%s" % (
            head, "|".join(filter(None, tails)), "?" if "" in tails else "")
        for head, tails in heads.items()
    )


_COMMENT_RE = re.compile(r"<!--.*?(?:-->|\Z)", re.DOTALL)
_REMOVE_RE = re.compile(
    r"<(%s)\b[^>]*>.*?(?:</\1\s*>|\Z)" % _trie(_REMOVE_ELEMENTS),
    re.DOTALL | re.IGNORECASE,
)
_INLINE_RE = re.compile(
    r"</?(%s)\b[^>]*>" % _trie(INLINE_TAGS), re.IGNORECASE
)
_TAG_RE = re.compile(r"<[a-zA-Z/!][^>]*>")
# every run of [ \t\r\f\v\xa0] except a lone space, which already is its
# own canonical form: rewriting it with itself is most of the matches on
# real text and all of them wasted. The pattern opens with one character
# class so that the search skips every other character in C without
# entering the matcher; a run of one character matches only if it is not
# a space. A pattern opening with an alternation of two classes would
# enter the matcher at every character
_WS_RE = re.compile(r"[ \t\r\f\v\xa0](?:[ \t\r\f\v\xa0]+|(?<! ))")


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
    return "\n".join(filter(None, map(str.strip, doc.split("\n"))))


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
# step 4a on the space-joined gap: tokens hold no space (nor newline), so
# this one match == "every gap token is ^[a-z]+$" for a gap of 1-5 tokens
_PRED_RE = re.compile(r"[a-z]+(?: [a-z]+){0,4}")
# two entity chunks need two tokens opening with A-Z, so a sentence with
# fewer than two A-Z letters cannot yield a triple
_TWO_CAPS_RE = re.compile(r"[A-Z][^A-Z]*[A-Z]")


def sentences(text: str) -> list[str]:
    """Sentence stream per TRIPLE SPEC v1 step 1."""
    # strip() removes exactly the characters \s matches, so on a stripped
    # line every piece of the split is already stripped and non-empty: a
    # piece ends at its [.!?] and starts after a maximal whitespace run
    out = []
    for line in text.split("\n"):
        line = line.strip()
        if line:
            out += _SENT_SPLIT_RE.split(line)
    return out


def extract_triples(
    text: str,
) -> list[tuple[int, str, str, str, int, int, int, int]]:
    """TRIPLE SPEC v1 (module docstring). Deterministic, pure."""
    out = []
    for sent_id, sent in enumerate(sentences(text)):
        if not _TWO_CAPS_RE.search(sent):
            continue
        tokens = _TOKEN_RE.findall(sent)
        # step 3: maximal runs of tokens opening with A-Z as [start, end)
        # spans; tokens open with [A-Za-z0-9], so that is one comparison,
        # and the "" sentinel closes a run that ends the sentence
        tokens.append("")
        spans = []
        start = -1
        for i, tok in enumerate(tokens):
            if "A" <= tok < "[":
                if start < 0:
                    start = i
            elif start >= 0:
                if i - start > 1 or tokens[start] not in _CHUNK_STOP:
                    spans.append((start, i))
                start = -1
        if len(spans) < 2:
            continue
        # step 4 over consecutive chunks; maximal runs are never adjacent,
        # so every gap holds at least one token
        s1, e1 = spans[0]
        for s2, e2 in spans[1:]:
            if s2 - e1 <= 5:
                pred = " ".join(tokens[e1:s2])
                if _PRED_RE.fullmatch(pred):
                    head = tokens[e1]
                    if (
                        head in VERB_LEX
                        or (len(head) > 3 and head.endswith(("ed", "es")))
                        or (s2 - e1 >= 2 and head in COPULA
                            and tokens[s2 - 1] in PREP)
                    ):
                        out.append((
                            sent_id, " ".join(tokens[s1:e1]), pred,
                            " ".join(tokens[s2:e2]), s1, e1, s2, e2,
                        ))
            s1, e1 = s2, e2
    return out
