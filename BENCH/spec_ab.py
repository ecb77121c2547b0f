"""Spec-layer A/B of ``functions/text.py``: the working tree's spec against
the spec at a git revision, in one process.

Both versions must give identical ``extract_text`` and ``extract_triples``
outputs on fixture seeds 1-3, on open-vocabulary pages and on the golden
corpora of ``tests/test_text_golden.py``, text by text, and the working
tree's ``extract_triples_batch`` over each whole corpus must give the same
triples; the script exits nonzero on the first difference. It then times
both versions on one fixture seed with ``time.process_time`` (CPU time of
this process, which other processes' load moves less than it moves wall
time), alternating which version runs first, and prints the median and
min in µs per page. The triple spec is timed as the operator applies it:
one ``extract_triples_batch`` call over all pages where a version has it,
else one ``extract_triples`` call per text.

Usage: python BENCH/spec_ab.py --base HEAD~1
"""

from __future__ import annotations

import argparse
import os
import statistics
import subprocess
import sys
import time
import types

import pyarrow as pa

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

import test_text_golden as golden  # noqa: E402

from clip_retrieval_spark import fixtures  # noqa: E402
from clip_retrieval_spark.functions import text as head  # noqa: E402
from kgbench import vocab_pages  # noqa: E402

SPEC = "clip_retrieval_spark/functions/text.py"
SEED = 1  # fixture seed timed
PAGES = 2_000
ALTERNATIONS = 15


def _load_rev(rev: str) -> types.ModuleType:
    src = subprocess.run(
        ["git", "-C", REPO, "show", f"{rev}:{SPEC}"],
        check=True, capture_output=True, text=True,
    ).stdout
    mod = types.ModuleType("text_base")
    exec(compile(src, f"{rev}:{SPEC}", "exec"), mod.__dict__)
    return mod


def _corpora(n_fixture: int) -> dict[str, list]:
    vocab = vocab_pages.Vocabulary(1, 1_000)
    out = {
        f"fixture seed {s}": [
            p[2] for p in fixtures.gen_pages_local(n_fixture, s)
        ]
        for s in (1, 2, 3)
    }
    out["vocab_pages"] = [
        vocab_pages.gen_page(i, 1, vocab)[2] for i in range(1_000)
    ]
    out["golden fuzz"] = golden.corpus()
    out["golden edge"] = golden.edge_corpus()
    out["golden space"] = golden.space_corpus()
    return out


def _triples_of_all(mod):
    """texts -> the spec applied to all of them: one batch call where
    ``mod`` has the batch entry point, else one call per text."""
    if hasattr(mod, "extract_triples_batch"):
        return lambda texts: mod.extract_triples_batch(
            pa.array(texts, pa.string()))
    return lambda texts: [mod.extract_triples(t) for t in texts]


def _check_identical(base, corpora: dict[str, list]) -> None:
    for name, docs in corpora.items():
        texts = [head.extract_text(d) for d in docs]
        if texts != [base.extract_text(d) for d in docs]:
            sys.exit(f"extract_text differs on {name}")
        # the raw markup goes through the triple spec too (tabs, \xa0 and
        # \r inside sentences), as in the golden pins
        inputs = texts + [
            d.decode("utf-8", errors="replace") if isinstance(d, bytes)
            else d for d in docs
        ]
        want = [base.extract_triples(t) for t in inputs]
        for t, w in zip(inputs, want):
            if head.extract_triples(t) != w:
                sys.exit(f"extract_triples differs on {name}: {t[:200]!r}")
        if golden.triples_per_text(inputs) != want:
            sys.exit(f"extract_triples_batch differs on {name}")
        print(f"identical: {name} ({len(docs)} docs)", flush=True)


def _cpu_us_per_page(fn, inputs: list) -> float:
    """Process CPU time of ``fn(inputs)`` per input, in µs."""
    t0 = time.process_time()
    fn(inputs)
    return (time.process_time() - t0) / len(inputs) * 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True, help="git revision to compare")
    args = ap.parse_args()

    base = _load_rev(args.base)
    _check_identical(base, _corpora(3_000))

    htmls = [p[2] for p in fixtures.gen_pages_local(PAGES, SEED)]
    texts = [head.extract_text(h) for h in htmls]
    sides = {"base": base, "tree": head}
    times = {(side, fn): [] for side in sides
             for fn in ("extract_text", "extract_triples")}
    for i in range(ALTERNATIONS):
        order = ("base", "tree") if i % 2 == 0 else ("tree", "base")
        for side in order:
            mod = sides[side]
            times[side, "extract_text"].append(_cpu_us_per_page(
                lambda docs: [mod.extract_text(d) for d in docs], htmls))
            times[side, "extract_triples"].append(
                _cpu_us_per_page(_triples_of_all(mod), texts))

    print(f"fixture seed {SEED}, {PAGES} pages, "
          f"{ALTERNATIONS} alternations, process CPU µs/page")
    for fn in ("extract_text", "extract_triples"):
        b, t = times["base", fn], times["tree", fn]
        mb, mt = statistics.median(b), statistics.median(t)
        print(f"{fn:16s} base median {mb:7.1f} min {min(b):7.1f} | "
              f"tree median {mt:7.1f} min {min(t):7.1f} | "
              f"speedup {mb / mt:.2f}x")


if __name__ == "__main__":
    main()
