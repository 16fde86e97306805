"""Seeded input generator for the benchmark workloads.

Everything a workload feeds the engine — text corpus, metadata, query
batches and the Python source tree — is a pure function of
the seed and the size table passed in. The generator is plain Python and
NumPy (no Spark), so the same seed yields byte-identical inputs in any
process; ``digest`` hashes a generated bundle so a run can check that.
"""

from __future__ import annotations

import functools
import hashlib
import json
import math
from dataclasses import dataclass, field

import numpy as np

SOURCES = ("news", "web", "wiki", "forum", "papers")
YEARS = (2005, 2024)
TOPIC_SHARE = 0.7       # share of a doc's words drawn from its topic's vocabulary
CONSONANTS = "bcdfghjklmnprstvz"
VOWELS = "aeiou"


def _words(rng: np.random.Generator, n: int, taken: set[str]) -> list[str]:
    """``n`` distinct pronounceable lowercase words not already in ``taken``."""
    out: list[str] = []
    while len(out) < n:
        m = 2 * (n - len(out))
        syl = rng.integers(2, 5, size=m)
        cons = rng.integers(len(CONSONANTS), size=(m, 4))
        vow = rng.integers(len(VOWELS), size=(m, 4))
        for k, cs, vs in zip(syl, cons, vow):
            w = "".join(CONSONANTS[a] + VOWELS[b] for a, b in zip(cs[:k], vs[:k]))
            if w not in taken and len(out) < n:
                taken.add(w)
                out.append(w)
    return out


@functools.cache
def _zipf_p(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


@dataclass
class TextCorpus:
    """A topical corpus: each doc draws most words from its topic's Zipfian
    vocabulary and the rest from a shared one, so a query drawn from one
    topic's vocabulary is selective in both the IVF probe and BM25."""
    topic_vocab: list[list[str]]
    shared_vocab: list[str]
    docs: list[tuple[int, str]]
    meta: list[tuple[int, str, int]]          # (doc_id, source, year)
    rng: np.random.Generator = field(repr=False)


def text_corpus(seed: int, *, n_docs: int, n_topics: int, topic_vocab: int,
                shared_vocab: int, min_words: int, max_words: int) -> TextCorpus:
    rng = np.random.default_rng([seed, 1])
    taken: set[str] = set()
    tv = [_words(rng, topic_vocab, taken) for _ in range(n_topics)]
    sv = _words(rng, shared_vocab, taken)
    c = TextCorpus(tv, sv, [], [], rng)
    topics = rng.integers(n_topics, size=n_docs)
    lens = rng.integers(min_words, max_words + 1, size=n_docs)
    n = int(lens.sum())
    from_topic = rng.random(n) < TOPIC_SHARE
    ti = rng.choice(topic_vocab, size=n, p=_zipf_p(topic_vocab))
    si = rng.choice(shared_vocab, size=n, p=_zipf_p(shared_vocab))
    sources = rng.integers(len(SOURCES), size=n_docs)
    years = rng.integers(YEARS[0], YEARS[1] + 1, size=n_docs)
    ends = np.cumsum(lens)
    for d in range(n_docs):
        a, b, words = ends[d] - lens[d], ends[d], tv[topics[d]]
        c.docs.append((d, " ".join(words[x] if t else sv[y] for t, x, y in
                                   zip(from_topic[a:b], ti[a:b], si[a:b]))))
        c.meta.append((d, SOURCES[sources[d]], int(years[d])))
    return c


def topic_queries(c: TextCorpus, n: int, *, topic: int,
                  min_words: int = 3, max_words: int = 6) -> list[tuple[int, str]]:
    """``n`` queries drawn from ONE topic's vocabulary (head-heavy), so only
    that topic's docs score well — the selective shape a probe-width or
    partition-pruning change needs to show."""
    tv = c.topic_vocab[topic]
    p = _zipf_p(len(tv))
    out = []
    for q in range(n):
        k = int(c.rng.integers(min_words, max_words + 1))
        out.append((q,
                    " ".join(tv[i] for i in c.rng.choice(len(tv), size=k, p=p))))
    return out


# -- code tree -----------------------------------------------------------------

VERBS = ("load", "parse", "write", "merge", "split", "score", "encode",
         "decode", "filter", "index", "fetch", "render", "validate", "flush",
         "resolve", "compact", "rank", "probe", "emit", "scan")
NOUNS = ("config", "record", "batch", "token", "segment", "cursor", "buffer",
         "schema", "ledger", "shard", "manifest", "posting", "snapshot",
         "bucket", "vector", "header", "payload", "window", "offset", "route",
         "session", "cache", "plan", "query", "column", "frame", "stream")


@dataclass
class CodeTree:
    files: dict[str, list[dict]]          # path → ordered function specs
    rng: np.random.Generator = field(repr=False)
    n_made: int = 0

    def render(self, path: str) -> str:
        """Source text of one module: imports, then one function per spec,
        each with a docstring and calls into other modules."""
        specs = self.files[path]
        mods = sorted({c.rsplit(".", 1)[0] for s in specs for c in s["calls"]})
        lines = [f'"""Module {path[:-3].replace("/", ".")}."""', ""]
        lines += [f"import {m}" for m in mods] + [""]
        for s in specs:
            args = ", ".join(s["args"])
            lines.append(f"def {s['name']}({args}):")
            lines.append(f'    """{s["doc"]}"""')
            lines.append(f"    acc = {s['const']}")
            for call in s["calls"]:
                lines.append(f"    acc = acc + {call}({s['args'][0]})")
            lines.append(f"    return acc * {s['args'][-1]}")
            lines.append("")
        return "\n".join(lines)

    def snapshot(self) -> list[tuple[str, str]]:
        return [(p, self.render(p)) for p in sorted(self.files)]

    def module(self, path: str) -> str:
        return path[:-3].replace("/", ".")


def _fn_spec(t: CodeTree, all_fns: list[str]) -> dict:
    rng = t.rng
    v, n1, n2 = (VERBS[rng.integers(len(VERBS))], NOUNS[rng.integers(len(NOUNS))],
                 NOUNS[rng.integers(len(NOUNS))])
    t.n_made += 1
    name = f"{v}_{n1}_{n2}_{t.n_made}"
    n_calls = int(rng.integers(0, 4)) if all_fns else 0
    calls = sorted({all_fns[i] for i in rng.integers(len(all_fns), size=n_calls)}) \
        if n_calls else []
    return {
        "name": name,
        "args": [NOUNS[i] for i in rng.choice(len(NOUNS), size=int(rng.integers(1, 4)),
                                              replace=False)],
        "doc": f"{v.capitalize()} the {n1} {n2} and return the combined {n1} score.",
        "const": int(rng.integers(100)),
        "calls": calls,
    }


def code_tree(seed: int, *, n_files: int, fns_per_file: tuple[int, int],
              n_packages: int) -> CodeTree:
    rng = np.random.default_rng([seed, 2])
    t = CodeTree({}, rng)
    fns: list[str] = []           # "pkg.mod.fn" of every function made so far
    for i in range(n_files):
        path = f"pkg{i % n_packages}/mod{i:04d}.py"
        specs = []
        for _ in range(int(rng.integers(fns_per_file[0], fns_per_file[1] + 1))):
            s = _fn_spec(t, fns)
            specs.append(s)
        t.files[path] = specs
        fns.extend(f"{t.module(path)}.{s['name']}" for s in specs)
    return t


def digest(obj) -> str:
    """sha256 of a canonical JSON dump of generated inputs."""
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=_jsonable).encode()).hexdigest()


def _jsonable(o):
    if hasattr(o, "__dict__"):
        return {k: v for k, v in vars(o).items() if k != "rng"}
    raise TypeError(type(o))


def query_term_coverage(docs: list[tuple[int, str]],
                        queries: list[tuple[int, str]]) -> float:
    """Mean share of ``docs`` containing any term of a query."""
    doc_terms = [set(t.split()) for _, t in docs]
    shares = []
    for _, q in queries:
        qt = set(q.split())
        shares.append(sum(1 for d in doc_terms if d & qt) / max(len(doc_terms), 1))
    return sum(shares) / max(len(shares), 1)


def expected_k(n_tokens: int) -> int:
    """The builder's K heuristic (2^⌊log2(16·√tokens)⌋), recomputed here so
    the input record does not depend on the engine."""
    return max(1, 2 ** int(math.floor(math.log2(16.0 * math.sqrt(max(n_tokens, 1))))))
