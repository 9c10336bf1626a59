"""Seeded input generators owned by the benchmark.

Everything the program under test receives is made here from ``--seed``:
the source-code corpus (written to parquet) and the query lists. The
vocabulary and distributions are frozen in this file on purpose, so no
change to the program can change the workload.

The corpus has the shape of the program's own synthetic corpus
(``(repo, path, commit, lang, content)``): Zipfian repo sizes, Zipfian
keywords, camelCase and snake_case identifiers, ``utfNN`` digit-suffixed
words and one ``uniqtermNNNNNN`` word per file. Besides the rendered text,
the generator returns each file's analyzed tokens, computed from the words
it drew (see :func:`word_tokens`), so the reference scorer needs no regex
pass over the corpus.

Only numpy, pyarrow and the standard library are used here; the module
imports nothing from the program.
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("python", "java", "js", "go", "md")
EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "md": "md"}

KEYWORDS = (
    "def class import return if else for while try except lambda yield "
    "public static void new extends implements interface function var let "
    "const async await package func type struct range chan map the and "
    "data value result buffer parse json string read file write stream "
    "index search query token merge sort hash join filter group count"
).split()
IDENT_HEADS = (
    "parse read write merge build encode decode fetch load store scan "
    "split score rank index flush apply reduce emit walk visit probe"
).split()
IDENT_TAILS = (
    "Json Buffer File String Stream Token Index Query Block Segment "
    "Record Batch Posting Score Heap Cache Table Shard Chunk Doc"
).split()

# The 33 classic Lucene English stopwords: the analyzer contract the
# reference scorer checks the program against.
STOPWORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)
CONTENT_KEYWORDS = [w for w in KEYWORDS if w not in STOPWORDS]

KEYWORD_ZIPF = 1.1
QUERY_KINDS = ("common", "ident", "rare", "oov")
# share of each query kind in the template pool
QUERY_KIND_P = (0.40, 0.30, 0.25, 0.05)
N_TEMPLATES = 2000
TEMPLATE_ZIPF = 0.5

CORPUS_COLUMNS = ("repo", "path", "commit", "lang", "content")


_SPLITS = (
    (re.compile(r"([a-z])([A-Z])"), r"\1 \2"),
    (re.compile(r"([A-Z]+)([A-Z][a-z])"), r"\1 \2"),
    (re.compile(r"([A-Za-z])([0-9])"), r"\1 \2"),
    (re.compile(r"([0-9])([A-Za-z])"), r"\1 \2"),
)
_NON_ALNUM = re.compile(r"[^a-z0-9]+")


def analyze(text: str) -> list[str]:
    """Tokens of ASCII text under the code-search analyzer contract:
    split camelCase and letter/digit boundaries, lowercase, split on every
    run of non-alphanumerics, drop empty tokens and English stopwords.

    Written independently of the program's analyzer; it covers the ASCII
    inputs this benchmark generates, not the program's full Unicode spec.
    """
    for pat, rep in _SPLITS:
        text = pat.sub(rep, text)
    return [t for t in _NON_ALNUM.split(text.lower()) if t and t not in STOPWORDS]


_WORD_TOKENS: dict[str, tuple[str, ...]] = {}


def word_tokens(word: str) -> tuple[str, ...]:
    """Analyzed tokens of one generated word (memoized: the vocabulary
    apart from ``uniqterm`` words is a few thousand words)."""
    toks = _WORD_TOKENS.get(word)
    if toks is None:
        toks = tuple(analyze(word))
        if not word.startswith("uniqterm"):
            _WORD_TOKENS[word] = toks
    return toks


@dataclass
class Corpus:
    """A generated corpus: the parquet columns plus per-file tokens."""

    repo: list[str]
    path: list[str]
    commit: list[str]
    lang: list[str]
    content: list[str]
    tokens: list[list[str]]

    def __len__(self) -> int:
        return len(self.path)

    def table(self) -> pa.Table:
        return pa.table({c: getattr(self, c) for c in CORPUS_COLUMNS})

    def input_bytes(self) -> int:
        """UTF-8 bytes of all content: the base of index-size ratios."""
        return sum(len(c.encode()) for c in self.content)


def _zipf_p(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def _render(words: list[str]) -> str:
    # code punctuation on fixed positions, as in the program's own corpus
    out = []
    for j, t in enumerate(words):
        if j % 11 == 3:
            sep = "("
        elif j % 11 == 7:
            sep = "); "
        elif j % 17 == 16:
            sep = ".\n"
        else:
            sep = " "
        out.append(t)
        out.append(sep)
    return "".join(out)


def make_corpus(n_docs: int, seed: int) -> Corpus:
    """Deterministic corpus of ``n_docs`` files for ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n_repos = max(2, n_docs // 40)
    repo_ix = rng.choice(n_repos, size=n_docs, p=_zipf_p(n_repos, 1.0))
    lang_ix = rng.integers(0, len(LANGS), size=n_docs)
    mod_ix = rng.integers(0, 20, size=n_docs)
    n_kw = rng.integers(30, 220, size=n_docs)
    n_id = np.maximum(3, n_kw // 8)
    kw = rng.choice(len(KEYWORDS), size=int(n_kw.sum()), p=_zipf_p(len(KEYWORDS), KEYWORD_ZIPF))
    n_ids = int(n_id.sum())
    heads = rng.integers(0, len(IDENT_HEADS), size=n_ids)
    tails = rng.integers(0, len(IDENT_TAILS), size=n_ids)
    camel = rng.random(n_ids) < 0.5
    has_utf = rng.random(n_ids) < 0.3
    utf_n = rng.integers(2, 64, size=n_ids)
    order_keys = rng.random(int(n_kw.sum()) + n_ids + int(has_utf.sum()) + n_docs)

    repo, path, commit, lang, content, tokens = [], [], [], [], [], []
    kw_pos = id_pos = key_pos = 0
    for i in range(n_docs):
        r = int(repo_ix[i])
        lg = LANGS[int(lang_ix[i])]
        rp = f"org{r % 7}/proj{r}"
        pth = f"src/mod{int(mod_ix[i])}/file{i}.{EXT[lg]}"
        words = [KEYWORDS[j] for j in kw[kw_pos : kw_pos + int(n_kw[i])]]
        kw_pos += int(n_kw[i])
        for j in range(id_pos, id_pos + int(n_id[i])):
            h, t = IDENT_HEADS[heads[j]], IDENT_TAILS[tails[j]]
            words.append(h + t if camel[j] else f"{h}_{t.lower()}")
            if has_utf[j]:
                words.append(f"utf{int(utf_n[j])}")
        id_pos += int(n_id[i])
        words.append(f"uniqterm{i:06d}")
        perm = np.argsort(order_keys[key_pos : key_pos + len(words)], kind="stable")
        key_pos += len(words)
        words = [words[j] for j in perm]
        repo.append(rp)
        path.append(pth)
        commit.append(hashlib.sha1(f"{rp}/{pth}@rev{i}".encode()).hexdigest())
        lang.append(lg)
        content.append(_render(words))
        tokens.append([t for w in words for t in word_tokens(w)])
    return Corpus(repo, path, commit, lang, content, tokens)


def write_corpus(corpus: Corpus, path: str) -> None:
    """Parquet with fixed writer settings: same corpus, same bytes."""
    pq.write_table(
        corpus.table(), path, compression="snappy", row_group_size=1 << 20,
        write_statistics=True,
    )


def _letters(n: int, width: int) -> str:
    """``n`` in base 26 over a-z, left-padded: a one-token, digit-free
    word (digits would split off under the analyzer)."""
    out = []
    for _ in range(width):
        n, d = divmod(n, 26)
        out.append(chr(ord("a") + d))
    return "".join(reversed(out))


def kind_counts(n: int) -> list[int]:
    """``n`` split over ``QUERY_KINDS`` in the ``QUERY_KIND_P`` shares
    (largest remainder), so every seed gets the same mix of kinds."""
    exact = [n * p for p in QUERY_KIND_P]
    counts = [int(x) for x in exact]
    by_rest = sorted(range(len(exact)), key=lambda i: (counts[i] - exact[i], i))
    for i in by_rest[: n - sum(counts)]:
        counts[i] += 1
    return counts


def make_query_pool(n_docs: int, seed: int) -> list[tuple[str, str]]:
    """``N_TEMPLATES`` (kind, text) query templates for ``seed``, grouped
    by kind in ``kind_counts`` shares.

    - ``common``: 2-5 Zipf-drawn keywords
    - ``ident``: a camelCase or snake_case identifier plus 1-2 keywords
    - ``rare``: one file's ``uniqtermNNNNNN`` word
    - ``oov``: letter strings that no file contains (an empty result)

    Query lengths cycle with a template's rank in its kind rather than
    being drawn, so the most-drawn templates have the same shape on
    every seed.
    """
    rng = np.random.default_rng([seed, 2])
    kw_p = _zipf_p(len(CONTENT_KEYWORDS), KEYWORD_ZIPF)
    pool = []
    for kind, count in zip(QUERY_KINDS, kind_counts(N_TEMPLATES)):
        for r in range(count):
            if kind == "common":
                n = 2 + r % 4
                text = " ".join(CONTENT_KEYWORDS[int(j)] for j in rng.choice(len(CONTENT_KEYWORDS), n, p=kw_p))
            elif kind == "ident":
                h = IDENT_HEADS[int(rng.integers(0, len(IDENT_HEADS)))]
                t = IDENT_TAILS[int(rng.integers(0, len(IDENT_TAILS)))]
                ident = h + t if rng.random() < 0.5 else f"{h}_{t.lower()}"
                ctx = [CONTENT_KEYWORDS[int(j)] for j in rng.choice(len(CONTENT_KEYWORDS), 1 + r % 2, p=kw_p)]
                text = " ".join([ident, *ctx])
            elif kind == "rare":
                text = f"uniqterm{int(rng.integers(0, n_docs)):06d}"
            else:
                text = f"zq{_letters(r, 4)} xv{_letters(int(rng.integers(0, 26**4)), 4)}"
            pool.append((kind, text))
    return pool


def draw_queries(pool: list[tuple[str, str]], n: int, seed: int, stream: int) -> list[tuple[str, str]]:
    """``n`` queries in a seeded order: ``kind_counts(n)`` of each kind,
    each drawn with Zipf weights over that kind's templates, so some
    queries repeat. ``stream`` separates independent draws."""
    rng = np.random.default_rng([seed, 3, stream])
    out = []
    for kind, count in zip(QUERY_KINDS, kind_counts(n)):
        templates = [q for q in pool if q[0] == kind]
        ix = rng.choice(len(templates), size=count, p=_zipf_p(len(templates), TEMPLATE_ZIPF))
        out.extend(templates[int(i)] for i in ix)
    return [out[int(i)] for i in rng.permutation(len(out))]


def due_times(rate: float, duration: float, seed: int) -> list[float]:
    """Seeded Poisson arrival offsets (seconds from the start) in
    ``[0, duration)``, given their count: ``round(rate * duration)``
    arrival times, each uniform over the window, sorted. That is a
    Poisson process conditioned on the number of arrivals, so gaps and
    bursts are those of Poisson traffic while the offered load, and with
    it goodput, does not vary with the seed."""
    rng = np.random.default_rng([seed, 4])
    n = max(1, round(rate * duration))
    return sorted(float(t) for t in rng.uniform(0.0, duration, size=n))
