"""Seeded API-log corpus in the reference corpus's shape, plus a
pure-Python reference for what the engine computes from it.

Grammar (one file per sample, ``LOG_API (N)converted.txt``):

    " -\\r"            bare class marker on the first line
    "<Api> -\\r"       one API call per line; ``-`` clean, ``+`` virus

Shape: 720 clean and 884 virus files of about 139 lines each, over 124
distinct APIs of which 68 occur in both classes.  No API occurs in
every document, so the information gain of every shared API is
defined (see ``universal_api_docs`` for the corpus that breaks that).

The reference half (``info_gain_reference``, ``expected_outputs``)
recomputes, with plain Python over the generator's own token sets, the
ranked vocabulary, the LIBSVM line count, the ``output.txt`` row count
and the number of API leaves in ``data.json``.
"""

from __future__ import annotations

import math
import os
import random
from dataclasses import dataclass

N_CLEAN = 720
N_VIRUS = 884
LINES_PER_FILE = 139
N_SHARED = 68
N_CLEAN_ONLY = 28
N_VIRUS_ONLY = 28  # 68 + 28 + 28 = 124 APIs


@dataclass(frozen=True)
class Corpus:
    """Token sets per document, keyed ``class/file`` like the engine's
    ``api_log_tokens`` doc id; ``cls`` is ``pos`` for virus."""

    docs: dict[str, tuple[str, frozenset[str]]]


def _api_names(rng: random.Random) -> tuple[list[str], list[str], list[str]]:
    stems = ["Reg", "Nt", "Create", "Open", "Close", "Read", "Write", "Query",
             "Set", "Get", "Load", "Virtual", "Map", "Find", "Enum", "Delete"]
    tails = ["File", "Key", "Process", "Thread", "Library", "Alloc", "View",
             "Value", "Handle", "Mutex", "Section", "Window", "Service", "Port"]
    names = sorted({f"{s}{t}{suf}" for s in stems for t in tails for suf in ("A", "W")})
    picked = rng.sample(names, N_SHARED + N_CLEAN_ONLY + N_VIRUS_ONLY)
    shared = picked[:N_SHARED]
    clean_only = picked[N_SHARED:N_SHARED + N_CLEAN_ONLY]
    virus_only = picked[N_SHARED + N_CLEAN_ONLY:]
    return shared, clean_only, virus_only


def generate(seed: int, n_clean: int = N_CLEAN, n_virus: int = N_VIRUS,
             lines: int = LINES_PER_FILE) -> tuple[Corpus, dict[str, list[str]]]:
    """Draw the corpus for ``seed``.

    Returns the token sets and, per class directory name, the file
    texts in order (file ``i`` is ``LOG_API (i+1)converted.txt``).
    """
    rng = random.Random(seed)
    shared, clean_only, virus_only = _api_names(rng)
    pools = {"clean": shared + clean_only, "virus": shared + virus_only}
    marks = {"clean": "-", "virus": "+"}
    texts: dict[str, list[str]] = {"clean": [], "virus": []}
    docs: dict[str, tuple[str, frozenset[str]]] = {}
    for cls, n in (("clean", n_clean), ("virus", n_virus)):
        pool = pools[cls]
        # class-skewed popularity so information gain varies by API
        weights = [rng.uniform(0.2, 3.0) for _ in pool]
        for i in range(n):
            k = rng.randint(12, 40)
            apis = rng.choices(pool, weights=weights, k=k)
            calls = rng.choices(apis, k=lines + rng.randint(-6, 6))
            body = "".join(f"{a} {marks[cls]}\r\n" for a in calls)
            texts[cls].append(f" {marks[cls]}\r\n{body}")
            name = f"LOG_API ({i + 1})converted.txt"
            docs[f"{cls}/{name}"] = ("pos" if cls == "virus" else "neg", frozenset(calls))
    corpus = Corpus(docs)
    if set.intersection(*(set(toks) for _, toks in docs.values())):
        raise ValueError("generated corpus has an API present in every document")
    return corpus, texts


def write(texts: dict[str, list[str]], root: str) -> tuple[str, str]:
    """Write the corpus under ``root``; returns (clean_dir, virus_dir)."""
    dirs = []
    for cls in ("clean", "virus"):
        d = os.path.join(root, f"{cls}_LOGS_CONVERTED")
        os.makedirs(d, exist_ok=True)
        for i, text in enumerate(texts[cls]):
            with open(os.path.join(d, f"LOG_API ({i + 1})converted.txt"), "w",
                      newline="") as f:
                f.write(text)
        dirs.append(d)
    return dirs[0], dirs[1]


def universal_api_docs() -> list[tuple[str, str, str]]:
    """Three ``(doc, cls, token)`` documents in which ``NtClose`` occurs
    in every document.  The reference scores such an API with IG 0
    (replaceNaN); its t - tg term is 0."""
    return [
        ("virus/a", "pos", "NtClose"), ("virus/a", "pos", "RegOpenKeyA"),
        ("clean/b", "neg", "NtClose"), ("clean/b", "neg", "ReadFileW"),
        ("clean/c", "neg", "NtClose"),
    ]


def _h2(x: float, y: float) -> float:
    if y == 0:  # an API in every document: the reference's NaN, replaced by 0
        return 0.0
    p = x / y
    return sum(-q * math.log2(q) for q in (p, 1.0 - p) if q > 0)


def info_gain_reference(corpus: Corpus, k: int = 2000) -> list[tuple[str, float]]:
    """Ranked ``(token, ig)`` exactly as ``info_gain_ranking`` defines
    it: tokens of both classes only, IG rounded to 6 places, ordered by
    (IG desc, token asc), top ``k``."""
    pos_df: dict[str, int] = {}
    neg_df: dict[str, int] = {}
    for cls, toks in corpus.docs.values():
        bucket = pos_df if cls == "pos" else neg_df
        for t in toks:
            bucket[t] = bucket.get(t, 0) + 1
    t_all = len(corpus.docs)
    p = sum(1 for cls, _ in corpus.docs.values() if cls == "pos")
    out = []
    for tok in set(pos_df) & set(neg_df):
        pg, tg = pos_df[tok], pos_df[tok] + neg_df[tok]
        ig = (_h2(p, t_all) - tg / t_all * _h2(pg, tg)
              - (t_all - tg) / t_all * _h2(p - pg, t_all - tg))
        out.append((tok, round(ig, 6)))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def libsvm_lines(corpus: Corpus, ranked: list[str]) -> list[str]:
    """LIBSVM rows ``<label> <rank>:1 ...`` of every document with at
    least one ranked API, in doc order; ``ranked[0]`` has rank 1."""
    rank = {t: i + 1 for i, t in enumerate(ranked)}
    out = []
    for _, (cls, toks) in sorted(corpus.docs.items()):
        idx = sorted(rank[t] for t in toks if t in rank)
        if idx:
            label = "1.0" if cls == "pos" else "0.0"
            out.append(" ".join([label, *(f"{i}:1" for i in idx)]) + "\n")
    return out


def expected_outputs(corpus: Corpus, k: int = 2000) -> dict[str, int]:
    """Counts the api_log_job artifacts must have for this corpus."""
    vocab = {t for t, _ in info_gain_reference(corpus, k)}
    hits = [len(toks & vocab) for _, toks in corpus.docs.values()]
    with_hits = sum(1 for h in hits if h)
    return {
        "vocab": len(vocab),
        "libsvm_lines": with_hits,
        "output_rows": with_hits,
        "json_leaves": sum(hits),
    }
