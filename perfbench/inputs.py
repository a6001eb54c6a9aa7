"""Seeded benchmark inputs: the code corpus, the query and request streams,
the delete batches and the documents table of the entry workload.

Every generator is a pure function of its arguments. The program under test
only ever sees what these functions return. Generated files are cached on
disk (corpora by size and seed) because generating them is input
preparation, not program work; the cache lives inside the checkout.

Run as a script to write one cached input file in a child process:
    python3 perfbench/inputs.py corpus <n_docs> <seed> <out.parquet>
    python3 perfbench/inputs.py documents <n_docs> <seed> <out.parquet>
Options for a corpus: `--stats <json>` also writes the brute-force oracle's
index statistics, `--topk <json>` the corpus's tail terms and the oracle's
top-10 on the fixed gate sample of the query stream.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
# Vocabulary of the corpus generator: keywords are drawn Zipf-like (the
# "head"), identifiers are built from stems, and every document carries one
# rare `symNNNNN` token (the "tail").
from sparkft.corpus import _KEYWORDS as KEYWORDS  # noqa: E402
from sparkft.corpus import _STEMS as STEMS  # noqa: E402

LANGS = ["python", "rust", "javascript", "java", "go", "markdown"]
TAIL_SHARE = 0.4    # bm25 queries carrying one first-touch tail term
TYPO_SHARE = 0.15   # rules requests carrying one typo'd word
GATE_SEED, GATE_QUERIES = 0, 60  # the fixed oracle sample of the bm25 stream

# Word distribution of the entry workload's documents table: the shape of
# the synthetic `documents` table of TESTDATA.md (30 uniform words, 10-100
# words a document, ~5% carrying a trailing "dup", a few exact duplicates).
DOC_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
DOC_LANGS = ["en", "zh", "es", "fr", "de"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

_SYM = re.compile(r"sym\d+")


def _atomic_write(path: str, write) -> None:
    tmp = f"{path}.tmp{os.getpid()}"
    write(tmp)
    os.replace(tmp, path)


def _write_json(obj, path: str) -> None:
    def write(tmp):
        with open(tmp, "w") as f:
            json.dump(obj, f)

    _atomic_write(path, write)


def write_corpus(n_docs: int, seed: int, path: str) -> None:
    """The sparkft code corpus plus the columns the benchmark needs:
    `doc_id` (row number) and `n_chars` (a sortable attribute)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkft.corpus import generate_corpus

    pdf = generate_corpus(n_docs, seed=seed)
    pdf.insert(0, "doc_id", np.arange(n_docs, dtype=np.int64))
    pdf["n_chars"] = pdf["content"].str.len().astype(np.int64)
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    _atomic_write(path, lambda tmp: pq.write_table(table, tmp))


def write_documents(n_docs: int, seed: int, path: str) -> None:
    """A `documents` table (doc_id, text, lang, source, n_chars) for the
    `__spark_entry__` queries."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    texts = []
    for i in range(n_docs):
        words = rng.choice(DOC_WORDS, size=int(rng.integers(10, 101)))
        text = " ".join(words)
        if rng.random() < 0.05:
            text += " dup"
        texts.append(text)
    for i in rng.choice(n_docs, size=max(n_docs // 600, 1), replace=False):
        texts[i] = texts[(i + 1) % n_docs]  # a few exact duplicates
    langs = rng.choice(DOC_LANGS, size=n_docs, p=DOC_LANG_P)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [str(x) for x in langs],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _atomic_write(path, lambda tmp: pq.write_table(table, tmp))


def _oracle(corpus_path: str):
    import pyarrow.parquet as pq

    from sparkft.oracle import BruteForceIndex

    tbl = pq.read_table(corpus_path, columns=["doc_id", "content"])
    return tbl, BruteForceIndex(tbl["doc_id"].to_numpy(), tbl["content"].to_pylist())


def write_oracle_stats(corpus_path: str, path: str) -> None:
    """(n_docs, n_tokens, n_postings) of `sparkft.oracle.BruteForceIndex`
    over a corpus: what a correct index build must report."""
    _, oracle = _oracle(corpus_path)
    _write_json({"n_docs": oracle.N, "n_tokens": len(oracle.postings),
                 "n_postings": int(sum(len(rows) for rows, _ in oracle.postings.values()))},
                path)


def write_oracle_topk(corpus_path: str, path: str) -> None:
    """The corpus's tail terms, and `BruteForceIndex.topk(q, 10)` for each
    query of the fixed gate sample: what a correct WAND must return."""
    tbl, oracle = _oracle(corpus_path)
    tails = tail_terms(tbl["content"].to_pylist())
    gate = [[s["q"], oracle.topk(s["q"], 10)]
            for s in bm25_queries(GATE_SEED, tails)[:GATE_QUERIES]]
    _write_json({"tails": tails, "gate": gate}, path)


def input_path(kind: str, n_docs: int, seed: int, cache_dir: str) -> str:
    return os.path.join(cache_dir, "inputs", f"{kind}-n{n_docs}-s{seed}.parquet")


def start_input(kind: str, n_docs: int, seed: int, cache_dir: str,
                stats: str = None, topk: str = None):
    """Start writing a missing input file (and the oracle files asked for)
    in a child process, so that this work never counts in the benchmark's
    own peak RSS and can overlap Spark work. Returns the process, or None
    when everything is cached."""
    path = input_path(kind, n_docs, seed, cache_dir)
    extra = [(flag, p) for flag, p in (("--stats", stats), ("--topk", topk)) if p]
    if os.path.exists(path) and all(os.path.exists(p) for _, p in extra):
        return None
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return subprocess.Popen([sys.executable, os.path.abspath(__file__), kind,
                             str(n_docs), str(seed), path]
                            + [x for pair in extra for x in pair])


def cached(kind: str, n_docs: int, seed: int, cache_dir: str, proc=None) -> str:
    """Path of the input file, generated first on a cache miss."""
    proc = proc or start_input(kind, n_docs, seed, cache_dir)
    if proc is not None and proc.wait(timeout=170) != 0:
        raise RuntimeError(f"generating {kind} input failed")
    return input_path(kind, n_docs, seed, cache_dir)


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------

def tail_terms(contents) -> list[str]:
    """The rare `symNNNNN` tokens present in the corpus, sorted."""
    found = set()
    for text in contents:
        found.update(_SYM.findall(text))
    return sorted(found)


def _head_terms(rng, shape) -> np.ndarray:
    """Head terms: half Zipf-drawn keywords, half uniform stems."""
    p = 1.0 / np.arange(1, len(KEYWORDS) + 1)
    kw = np.asarray(KEYWORDS)[rng.choice(len(KEYWORDS), size=shape, p=p / p.sum())]
    stem = np.asarray(STEMS)[rng.integers(len(STEMS), size=shape)]
    return np.where(rng.random(shape) < 0.5, kw, stem)


def _strata(rng, n: int, counts: list[int]) -> np.ndarray:
    """`n` labels in shuffled blocks of sum(counts): label j appears
    counts[j] times in every block, so every stretch of the stream has the
    same mix whatever the seed."""
    block = np.repeat(np.arange(len(counts)), counts)
    return np.concatenate([rng.permutation(block)
                           for _ in range(-(-n // len(block)))])[:n]


def bm25_queries(seed: int, tails: list[str]) -> list[dict]:
    """1-4 term queries, one per tail term of the corpus. 60% are head
    keywords and stems only (long posting lists); the rest carry one tail
    term, each tail term at most once in the stream, so each such query is
    a first-touch segment read and decode. The term-count mix (6/7/4/3 in
    20) and the tail share hold in every block of 20 queries. A run that
    needs more queries than this fails rather than repeat one."""
    n = len(tails)
    rng = np.random.default_rng((seed, 1))
    n_terms = 1 + _strata(rng, n, [6, 7, 4, 3])
    heads = _head_terms(rng, (n, 4))
    tail = _strata(rng, n, [20 - round(20 * TAIL_SHARE), round(20 * TAIL_SHARE)]) == 1
    slot = rng.integers(0, n_terms)
    order = rng.permutation(n)
    out = []
    for i in range(n):
        terms = [str(t) for t in heads[i, :n_terms[i]]]
        if tail[i]:
            terms[slot[i]] = tails[order[i]]
        out.append({"q": " ".join(terms), "terms": terms, "tail": bool(tail[i])})
    return out


def _typo(word: str, rng) -> str:
    """One edit (substitute, delete, insert or transpose) away from `word`,
    never at the first letter."""
    i = int(rng.integers(1, len(word) - 1))
    letters = "abcdefghijklmnopqrstuvwxyz"
    op = int(rng.integers(4))
    if op == 0:
        c = letters[(letters.index(word[i]) + 1 + int(rng.integers(25))) % 26]
        return word[:i] + c + word[i + 1:]
    if op == 1:
        return word[:i] + word[i + 1:]
    if op == 2:
        return word[:i] + letters[int(rng.integers(26))] + word[i:]
    return word[:i] + word[i + 1] + word[i] + word[i + 2:]


_TYPO_STEMS = [s for s in STEMS if len(s) >= 5]  # one typo needs length >= 5


def rules_requests(seed: int, n: int, tails: list[str]) -> list[dict]:
    """SearchService requests: 40% plain queries, 20% `lang` filters, 20%
    `lang` facets and 20% `n_chars` sorts, with 15% carrying one typo'd word
    and 20% one tail term. Like the term-count mix (1-3 terms: 7/9/4 in 20),
    these shares hold in every block of 20 requests."""
    rng = np.random.default_rng((seed, 2))
    n_terms = 1 + _strata(rng, n, [7, 9, 4])
    heads = _head_terms(rng, (n, 3))
    tail = rng.integers(len(tails), size=n)
    has_tail = _strata(rng, n, [16, 4]) == 1
    typo = _strata(rng, n, [20 - round(20 * TYPO_SHARE), round(20 * TYPO_SHARE)]) == 1
    kinds = np.asarray(["plain", "filter", "facet", "sort"])[_strata(rng, n, [8, 4, 4, 4])]
    lang = rng.integers(len(LANGS), size=n)
    desc = rng.random(n) < 0.5
    out = []
    for i in range(n):
        terms = [str(t) for t in heads[i, :n_terms[i]]]
        if has_tail[i]:
            terms[-1] = tails[tail[i]]
        if typo[i]:
            terms[0] = _typo(_TYPO_STEMS[int(rng.integers(len(_TYPO_STEMS)))], rng)
        kind = str(kinds[i])
        kw = {"filter": {"filter": ("lang", LANGS[lang[i]])},
              "facet": {"facets": ["lang"]},
              "sort": {"sort": ("n_chars", bool(desc[i]))}}.get(kind, {})
        out.append({"q": " ".join(terms), "kind": kind, "typo": bool(typo[i]), "kw": kw})
    return out


def delete_batches(seed: int, doc_ids: np.ndarray, per_batch: int) -> list[list[int]]:
    """Every doc id in seeded order, cut into disjoint delete batches."""
    picked = np.random.default_rng((seed, 3)).permutation(doc_ids)
    return [sorted(int(x) for x in picked[i:i + per_batch])
            for i in range(0, len(picked) - per_batch + 1, per_batch)]


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("kind", choices=("corpus", "documents"))
    ap.add_argument("n_docs", type=int)
    ap.add_argument("seed", type=int)
    ap.add_argument("out")
    ap.add_argument("--stats")
    ap.add_argument("--topk")
    a = ap.parse_args()
    if not os.path.exists(a.out):
        {"corpus": write_corpus, "documents": write_documents}[a.kind](a.n_docs, a.seed, a.out)
    if a.stats and not os.path.exists(a.stats):
        write_oracle_stats(a.out, a.stats)
    if a.topk and not os.path.exists(a.topk):
        write_oracle_topk(a.out, a.topk)
