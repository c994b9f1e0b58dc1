"""Seeded input generators.

Every input the package sees is built here from the run's ``--seed``
with NumPy's PCG64 and vectorized Arrow kernels, so the same seed gives
byte-identical inputs and generation stays well under a second at the
sizes the workloads use. Values never contain ``,`` or ``"``, so a plain
split on ``,`` is the same parse as a CSV reader: the DuckDB oracles rely
on that.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

FIRST = ["ada", "alan", "barbara", "dennis", "donald", "edsger", "frances", "grace",
         "guido", "hedy", "ivan", "jean", "ken", "linus", "margaret", "niklaus",
         "ole", "peter", "radia", "shafi", "tim", "tony", "vint", "whitfield"]
LAST = ["lovelace", "turing", "liskov", "shannon", "knuth", "dijkstra", "allen",
        "hopper", "rossum", "lamarr", "sutherland", "sammet", "thompson", "torvalds",
        "hamilton", "wirth", "dahl", "naur", "perlman", "goldwasser", "lee", "hoare",
        "cerf", "diffie"]
CITIES = ["springfield", "riverside", "franklin", "greenville", "bristol", "clinton",
          "fairview", "salem", "madison", "georgetown", "arlington", "ashland",
          "dover", "oxford", "jackson", "burlington", "manchester", "milton",
          "newport", "auburn", "dayton", "lexington", "milford", "winchester",
          "hudson", "kingston", "marion", "centerville", "mount vernon", "oakland"]
STATES = ["CA", "NY", "TX", "WA", "OR", "MA", "IL", "GA", "FL", "CO"]
COUNTRIES = ["us", "ca", "mx"]
STATUSES = ["new", "active", "suspended", "closed", "pending"]
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel",
         "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa"]

CSV_COLUMNS = 18
# fields kept by a malformed (truncated) row: fields 13..18 go missing
TRUNCATED_FIELDS = 12


@dataclass(frozen=True)
class CsvShape:
    """Input properties of the CSV bodies the recipe workloads parse.
    Only the 18 columns come from the reference's published dataset; the
    shares and the skew are assumptions (README.md), not measured traffic."""

    rows: int
    empty_state: float = 0.10      # share of empty field 7
    empty_status: float = 0.15     # share of empty field 15
    malformed: float = 0.02        # share of rows truncated to 12 fields
    city_zipf: float = 1.3         # Zipf exponent of field 6 (the shuffled one)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pc.take(pa.array(values), pa.array(idx))


def _digits(rng, n: int, width: int) -> pa.Array:
    hi = 10 ** width
    v = pa.array(rng.integers(0, hi, size=n, dtype=np.int64)).cast(pa.string())
    return pc.utf8_lpad(v, width, "0")


def _month_day(rng, n: int, hi: int) -> pa.Array:
    v = pa.array(rng.integers(1, hi + 1, size=n)).cast(pa.string())
    return pc.utf8_lpad(v, 2, "0")


def _zipf_probs(k: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, k + 1) ** s
    return w / w.sum()


def csv_bodies(seed: int, shape: CsvShape, id_offset: int = 0) -> pa.Table:
    """``id`` plus an 18-field CSV ``body`` per row (see README.md for the
    field layout). Empty fields appear only in fields 7 and 15; a
    malformed row keeps its first 12 fields only."""
    rng = np.random.default_rng(seed)
    n = shape.rows
    ids = np.arange(id_offset, id_offset + n, dtype=np.int64)
    first = _pick(rng, FIRST, n)
    last = _pick(rng, LAST, n)

    def blank(col: pa.Array, share: float) -> pa.Array:
        return pc.if_else(pa.array(rng.random(n) < share), "", col)

    fields = [
        pa.array(ids).cast(pa.string()),                                    # 1 id
        first,                                                              # 2 first name
        last,                                                               # 3 last name
        pc.binary_join_element_wise(first, ".", last,
                                    pa.array(rng.integers(1, 99, n)).cast(pa.string()),
                                    "@example.com", ""),                    # 4 email
        pc.binary_join_element_wise("555", _digits(rng, n, 3), _digits(rng, n, 4), "-"),  # 5
        _pick(rng, CITIES, n, _zipf_probs(len(CITIES), shape.city_zipf)),   # 6 city
        blank(_pick(rng, STATES, n), shape.empty_state),                    # 7 state
        _digits(rng, n, 5),                                                 # 8 zip
        _pick(rng, COUNTRIES, n),                                           # 9 country
        _digits(rng, n, 9),                                                 # 10 ssn
        _digits(rng, n, 16),                                                # 11 card
        pc.binary_join_element_wise(pa.array(rng.integers(0, 999, n)).cast(pa.string()),
                                    _digits(rng, n, 2), "."),               # 12 amount
        pa.array(rng.integers(0, 100, n)).cast(pa.string()),                # 13 quantity
        pc.binary_join_element_wise("2024", _month_day(rng, n, 12), _month_day(rng, n, 28), "-"),  # 14
        blank(_pick(rng, STATUSES, n), shape.empty_status),                 # 15 status
        pc.binary_join_element_wise(_pick(rng, WORDS, n), _pick(rng, WORDS, n), " "),  # 16
        _pick(rng, ["true", "false"], n),                                   # 17 flag
        pa.array(rng.integers(0, 1000, n)).cast(pa.string()),               # 18 score
    ]
    assert len(fields) == CSV_COLUMNS
    full = pc.binary_join_element_wise(*fields, ",")
    short = pc.binary_join_element_wise(*fields[:TRUNCATED_FIELDS], ",")
    body = pc.if_else(pa.array(rng.random(n) < shape.malformed), short, full)
    return pa.table({"id": pa.array(ids), "body": body})


# --- curation corpus -------------------------------------------------------

VOCAB_SIZE = 20_000
BLOCKED_SOURCES = ["spam.example.com", "content-farm.example.net"]
GOOD_SOURCES = ["news.example.org", "wiki.example.org", "blog.example.io",
                "forum.example.co", "docs.example.dev"]


@dataclass(frozen=True)
class CorpusShape:
    """Planted-duplicate structure of the curation corpus. Every rate
    is an assumption (README.md), not measured from a real corpus."""

    families: int                  # distinct originals
    near_share: float = 0.25       # families that get 1-2 near-duplicate variants
    exact_share: float = 0.20      # docs (originals and variants) copied verbatim
    blocked_share: float = 0.05    # docs from a blocked source
    pii_share: float = 0.20        # families whose texts end in an e-mail address
    words: int = 120               # words per document


@dataclass
class Corpus:
    table: pa.Table                # doc_id, source, text, n_chars
    survivors: set[int]            # ground truth after the whole chain
    exact_removed: int             # docs exact dedup must drop
    blocked: int                   # docs the source filter must drop


def _vocabulary(rng) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, VOCAB_SIZE)
    return np.array(["".join(rng.choice(letters, k)) for k in lens])


def corpus(seed: int, shape: CorpusShape) -> Corpus:
    """Documents of random words from a 20K-word vocabulary (unrelated
    documents share no 3-word shingle in practice), grouped in families:
    an original, maybe 1-2 near variants with one word substituted each
    (Jaccard about 0.95 to the original, 0.9 to each other), and verbatim
    copies. Ground truth: blocked sources go first; each exact group keeps
    its smallest id; each family keeps its longest surviving text (ties:
    smallest id)."""
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng)
    texts: list[str] = []
    family: list[int] = []
    for f in range(shape.families):
        base = rng.integers(0, VOCAB_SIZE, shape.words)
        suffix = f" contact {vocab[base[0]]}{f}@example.com" if rng.random() < shape.pii_share else ""
        texts.append(" ".join(vocab[base]) + suffix)
        family.append(f)
        if rng.random() < shape.near_share:
            for _ in range(int(rng.integers(1, 3))):
                v = base.copy()
                v[int(rng.integers(0, shape.words))] = rng.integers(0, VOCAB_SIZE)
                texts.append(" ".join(vocab[v]) + suffix)
                family.append(f)
    copies = [i for i in range(len(texts)) if rng.random() < shape.exact_share]
    for i in copies:
        texts.append(texts[i])
        family.append(family[i])
    order = rng.permutation(len(texts))
    texts = [texts[i] for i in order]
    family = [family[i] for i in order]
    n = len(texts)
    blocked = rng.random(n) < shape.blocked_share
    src_good = rng.integers(0, len(GOOD_SOURCES), n)
    src_bad = rng.integers(0, len(BLOCKED_SOURCES), n)
    sources = [BLOCKED_SOURCES[src_bad[i]] if blocked[i] else GOOD_SOURCES[src_good[i]]
               for i in range(n)]
    ids = list(range(1, n + 1))

    first_of_text: dict[str, int] = {}
    exact_removed = 0
    for i in range(n):
        if blocked[i]:
            continue
        if texts[i] in first_of_text:
            exact_removed += 1
        else:
            first_of_text[texts[i]] = ids[i]
    best: dict[int, tuple[int, int]] = {}
    for text, doc in first_of_text.items():
        f = family[doc - 1]
        key = (-len(text), doc)
        if f not in best or key < best[f]:
            best[f] = key
    survivors = {doc for _, doc in best.values()}
    table = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "source": pa.array(sources),
        "text": pa.array(texts),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return Corpus(table, survivors, exact_removed, int(blocked.sum()))


# --- state micro-batches -----------------------------------------------------

def micro_batches(seed: int, count: int, rows: int, vocab: int = 400) -> list[pa.Table]:
    """``count`` batches of ``rows`` short texts (3-11 words) over a
    Zipf-skewed (s=1.1) ``vocab``-word vocabulary, with 10% of the words
    upper-cased and 20% of the texts double-spaced: the fold's
    normalization must fold both away. Sizes, skew and shares are
    assumptions (README.md)."""
    rng = np.random.default_rng(seed)
    words = np.array([f"t{i}" for i in range(vocab)])
    words = np.concatenate([words, np.char.upper(words)])
    n = count * rows
    lens = rng.integers(3, 12, n)
    idx = rng.choice(vocab, int(lens.sum()), p=_zipf_probs(vocab, 1.1))
    idx = idx + vocab * (rng.random(len(idx)) < 0.1)
    toks = words[idx].tolist()
    seps = np.where(rng.random(n) < 0.2, "  ", " ")
    texts, pos = [], 0
    for k, sep in zip(lens.tolist(), seps.tolist()):
        texts.append(sep.join(toks[pos:pos + k]))
        pos += k
    return [pa.table({"doc_id": pa.array(range(b * rows, (b + 1) * rows), pa.int64()),
                      "text": pa.array(texts[b * rows:(b + 1) * rows])})
            for b in range(count)]
