"""Normative text-processing spec: HTML->text extraction and OpenIE-style
triple extraction.

These pure functions ARE the spec. The Spark operators apply them inside
Arrow-batched ``mapInArrow`` (never per-row Python UDFs). EXTRACTION SPEC
v1 runs page by page (``extract_text``): ``_REMOVE_RE`` needs a
backreference and ``_WS_RE`` a lookbehind, which RE2, the engine behind
Arrow's regex kernels, lacks, and ``html.unescape`` has no Arrow kernel.
TRIPLE SPEC v1 runs once per Arrow batch (``extract_triples_batch``):
``pyarrow.compute`` string kernels and numpy passes over the batch's byte
buffers, with no Python per sentence, token or triple; ``extract_triples``
is its one-row case. The independent
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

 1. Sentences: per text line (order preserved), stripped, split on
    whitespace following ``.``/``!``/``?``; empty lines dropped; global
    0-based sent_id across the page. Whitespace is every code point for
    which ``str.isspace()`` is true (Python's ``\\s``).
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

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

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

# the 29 code points for which str.isspace() is true: what Python's \s and
# str.strip() match. RE2, the engine behind Arrow's string kernels, reads \s
# as ASCII only, so the set is spelled out
_WS = (
    "\t\n\v\f\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u2028\u2029\u202f\u205f\u3000"
)
# the whitespace code points by their UTF-8 bytes: a one-byte one by its
# byte, a longer one by its bytes read as one big-endian int
_WS_BYTE = np.isin(np.arange(256), [ord(c) for c in _WS if c < "\x80"])
_WS_2, _WS_3 = (
    np.array([int.from_bytes(c.encode(), "big") for c in _WS
              if len(c.encode()) == n])
    for n in (2, 3)
)
# step 2's class kept and every other byte a space: each maximal run of the
# class then holds one token, the run without its leading [&'-]
_TOKEN_BYTES = bytes(
    b if chr(b) in "&'-" or chr(b).isascii() and chr(b).isalnum() else 32
    for b in range(256)
)

# the sets of steps 3-4, one code per set: they are disjoint
_STOP, _VERB, _COP, _PREP = 1, 2, 3, 4
_LEX = pa.array(sorted(_CHUNK_STOP) + sorted(VERB_LEX) + sorted(COPULA)
                + sorted(PREP))
_KIND = np.array(
    [0] + [_STOP] * len(_CHUNK_STOP) + [_VERB] * len(VERB_LEX)
    + [_COP] * len(COPULA) + [_PREP] * len(PREP), np.int8)

TRIPLE_FIELDS = ("row", "sent_id", "subj", "pred", "obj", "subj_start",
                 "subj_end", "obj_start", "obj_end")


def _buffers(strings: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Offsets (rebased to 0) and bytes of a string array, no copy."""
    _, offsets, data = strings.buffers()
    off = np.frombuffer(offsets, np.int32, len(strings) + 1,
                        4 * strings.offset)
    data = np.frombuffer(data, np.uint8) if data else np.empty(0, np.uint8)
    return off - off[0], data[off[0]:off[-1]]


def _strings(off: np.ndarray, data) -> pa.Array:
    """A string array over ``data`` cut at ``off``, no copy."""
    return pa.Array.from_buffers(
        pa.string(), len(off) - 1,
        [None, pa.py_buffer(off.astype(np.int32)), pa.py_buffer(data)])


def _kinds(tokens: pa.Array, at: np.ndarray) -> np.ndarray:
    """The set code of the tokens at ``at`` (0: in no set)."""
    found = pc.index_in(tokens.take(at), value_set=_LEX)
    return _KIND[found.fill_null(-1).to_numpy() + 1]


def _joined(tokens: pa.Array, starts: np.ndarray, ends: np.ndarray):
    """The space-joined token runs [start, end), one string per run."""
    lens = ends - starts
    off = np.zeros(len(lens) + 1, np.int32)
    np.cumsum(lens, out=off[1:])
    take = np.arange(off[-1], dtype=np.int32) + np.repeat(
        starts - off[:-1], lens)
    return pc.binary_join(
        pa.ListArray.from_arrays(off, tokens.take(take)), " ")


def _sentences(texts: pa.Array):
    """TRIPLE SPEC v1 step 1 over a whole string array: the stripped,
    non-empty sentences that hold two A-Z letters (two entity chunks need
    two tokens opening with A-Z), each with its row and sent_id."""
    off, data = _buffers(texts)
    # every "\n", and every mark followed by whitespace, ends a piece;
    # whitespace is stripped from the pieces, so where the run after a
    # mark goes does not matter
    at = np.flatnonzero(
        (data == 10) | (data == 46) | (data == 33) | (data == 63)) + 1
    b = np.take(data, at + np.arange(3)[:, None], mode="clip").astype(
        np.int32)
    key = b[0] << 16 | b[1] << 8 | b[2]
    ends = at[(np.take(data, at - 1) == 10) | _WS_BYTE[b[0]]
              | np.isin(key >> 8, _WS_2) | np.isin(key, _WS_3)]
    bounds = np.union1d(off, ends)
    sents = pc.utf8_trim(_strings(bounds, data), _WS)
    soff, sdata = _buffers(sents)
    full = np.flatnonzero(soff[1:] > soff[:-1])
    row = np.searchsorted(off, bounds[full], "right").astype(np.int32) - 1
    sent_id = np.arange(len(row), dtype=np.int32) - np.searchsorted(
        row, row).astype(np.int32)
    if len(full):
        caps = np.add.reduceat(sdata - np.uint8(65) < 26, soff[full],
                               dtype=np.int32)
        full = full[caps >= 2]
        row, sent_id = row[caps >= 2], sent_id[caps >= 2]
    return sents.take(full), row, sent_id


def extract_triples_batch(texts: pa.Array) -> pa.RecordBatch:
    """TRIPLE SPEC v1 (module docstring) over a string array, null read as
    "": one row per triple, columns ``TRIPLE_FIELDS`` (``row`` indexes
    ``texts``), in the order of ``extract_triples`` row by row. Arrow
    kernels and numpy over whole buffers; no Python per sentence, token
    or triple."""
    if texts.type != pa.string():
        texts = texts.cast(pa.string())
    sents, row, sent_id = _sentences(texts.fill_null(""))
    # step 2
    off, data = _buffers(sents)
    words = pc.ascii_split_whitespace(
        _strings(off, data.tobytes().translate(_TOKEN_BYTES)))
    tokens = pc.ascii_ltrim(words.flatten(), "&'-")
    off, data = _buffers(tokens)
    full = np.flatnonzero(off[1:] > off[:-1])
    tokens = tokens.take(full)
    tok_sent = pc.list_parent_indices(words).to_numpy()[full].astype(
        np.int32)
    off, data = _buffers(tokens)
    n = len(tokens)
    upper = data[off[:-1]] - np.uint8(65) < 26
    # prefix count of the tokens that are not ^[a-z]+$
    not_lower = np.zeros(n + 1, np.int32)
    if n:
        np.cumsum(np.add.reduceat(data - np.uint8(97) > 25, off[:-1]) > 0,
                  out=not_lower[1:])
    # step 3: maximal runs of upper-led tokens within a sentence
    first = np.ones(n, bool)
    first[1:] = tok_sent[1:] != tok_sent[:-1]
    last = np.ones(n, bool)
    last[:-1] = first[1:]
    s = np.flatnonzero(upper & (first | ~np.roll(upper, 1)))
    e = np.flatnonzero(upper & (last | ~np.roll(upper, -1))) + 1
    one = np.flatnonzero(e - s == 1)
    keep = np.ones(len(s), bool)
    keep[one] = _kinds(tokens, s[one]) != _STOP
    s, e = s[keep], e[keep]
    # step 4 over consecutive chunks of one sentence
    s1, e1, s2, e2 = s[:-1], e[:-1], s[1:], e[1:]
    pair = np.flatnonzero(
        (tok_sent[s1] == tok_sent[s2]) & (s2 - e1 <= 5)
        & (not_lower[s2] == not_lower[e1]))
    s1, e1, s2, e2 = s1[pair], e1[pair], s2[pair], e2[pair]
    head, tail = np.split(_kinds(tokens, np.concatenate([e1, s2 - 1])), 2)
    head_end = off[e1 + 1]
    pair = np.flatnonzero(
        (head == _VERB)
        | ((head_end - off[e1] > 3) & (data[head_end - 2] == ord("e"))
           & ((data[head_end - 1] == ord("d"))
              | (data[head_end - 1] == ord("s"))))
        | ((s2 - e1 >= 2) & (head == _COP) & (tail == _PREP)))
    s1, e1, s2, e2 = s1[pair], e1[pair], s2[pair], e2[pair]
    # step 5, and the spans as token indexes within the sentence
    k = len(s1)
    words = _joined(tokens, np.concatenate([s1, e1, s2]),
                    np.concatenate([e1, s2, e2]))
    sent = tok_sent[s1]
    base = np.searchsorted(tok_sent, sent)
    return pa.RecordBatch.from_arrays(
        [row[sent], sent_id[sent], words[:k], words[k:2 * k], words[2 * k:]]
        + [(x - base).astype(np.int32) for x in (s1, e1, s2, e2)],
        names=list(TRIPLE_FIELDS))


_SURROGATE_RE = re.compile("[\ud800-\udfff]")


def extract_triples(
    text: str,
) -> list[tuple[int, str, str, str, int, int, int, int]]:
    """TRIPLE SPEC v1 (module docstring) of one text: the one-row case of
    ``extract_triples_batch``. A lone surrogate cannot enter Arrow; it
    becomes U+FFFD, which like it is no whitespace, mark or token
    character, so the triples are the same."""
    found = extract_triples_batch(
        pa.array([_SURROGATE_RE.sub("\ufffd", text)], pa.string()))
    return list(zip(*(c.to_pylist() for c in found.columns[1:])))
