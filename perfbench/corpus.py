"""The dedup_batch input: a seeded ``documents`` table the size of the
sf0.1 one, with planted near-duplicate variants, and a pure-Python
reference for its trigram-Jaccard connected components.

The reference answers the same question as ``q_dedup_components``
(exact 3-gram set Jaccard rounded to 6 places, >= 0.8; components
labelled by their smallest id) from an inverted index, so it runs in
about a second where the DuckDB oracle's all-pairs join does not
finish in minutes at this size.  The oracle itself is run on a small
subset of the same corpus during set-up.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 table's shape: 5000 documents of 10-100 words (about 300
# characters) over a small vocabulary, five languages, ten sources.
N_DOCS = 5000
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window index shard cache plan node task stage "
    "sink source commit log page block file disk ring lock"
).split()
LANGS = ("en", "en", "en", "zh", "fr", "es", "de")
VARIANT_SHARE = 0.06
SUBSET_ROOTS = 100  # base documents whose family forms the oracle subset

_P = 1_000_003  # checksum weight; sums stay far inside int64


def _edit(rng: random.Random, words: list[str]) -> list[str]:
    """One small edit that keeps long documents above the 0.8 threshold."""
    w = list(words)
    kind = rng.random()
    if kind < 0.15:
        return w  # exact copy
    if kind < 0.6:
        w[rng.randrange(len(w))] = rng.choice(VOCAB)
    elif kind < 0.8:
        del w[rng.randrange(len(w))]
    else:
        w.append(rng.choice(VOCAB))
    return w


def documents(seed: int, n_docs: int = N_DOCS) -> tuple[list[dict], dict[int, int]]:
    """Rows of the documents table, and each variant's root base document.

    Variants are edits of a long base document or of an earlier variant,
    so some near-duplicate families chain over several edits and need
    more than one label-propagation round.
    """
    rng = random.Random(seed)
    texts = [rng.choices(VOCAB, k=rng.randint(10, 100)) for _ in range(n_docs)]
    root = {i: i for i in range(n_docs)}
    long_docs = [i for i, t in enumerate(texts) if len(t) >= 40]
    for _ in range(int(n_docs * VARIANT_SHARE)):
        src = rng.choice(long_docs) if rng.random() < 0.7 else rng.randrange(len(texts))
        if len(texts[src]) < 40:
            src = rng.choice(long_docs)
        root[len(texts)] = root[src]
        long_docs.append(len(texts))
        texts.append(_edit(rng, texts[src]))
    # ids are shuffled so a family's members are not adjacent
    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows, roots = [], {}
    for pos, words in enumerate(texts):
        text = " ".join(words)
        rows.append({
            "doc_id": ids[pos], "text": text, "lang": rng.choice(LANGS),
            "source": f"src{pos % 10}", "n_chars": len(text),
        })
        roots[ids[pos]] = ids[root[pos]]
    return rows, roots


def write_table(rows: list[dict], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows), os.path.join(sf_dir, "documents.parquet"))


def oracle_subset(rows: list[dict], roots: dict[int, int]) -> list[dict]:
    """The families of the first ``SUBSET_ROOTS`` base documents: small
    enough for the DuckDB oracle, and holding near-duplicate pairs."""
    keep = sorted({r["doc_id"] for r in rows})[:SUBSET_ROOTS]
    keep_roots = {roots[i] for i in keep}
    return [r for r in rows if roots[r["doc_id"]] in keep_roots]


def _trigrams(text: str) -> frozenset[str]:
    toks = text.split(" ")
    n = max(len(toks) - 2, 1)
    return frozenset(" ".join(toks[i:i + 3]) for i in range(n))


def reference_components(rows: list[dict], threshold: float = 0.8) -> dict[int, int]:
    """doc_id -> smallest doc_id in its component over Jaccard edges."""
    sets = {r["doc_id"]: _trigrams(r["text"]) for r in rows}
    index: dict[str, list[int]] = {}
    for d, s in sets.items():
        for g in s:
            index.setdefault(g, []).append(d)
    parent = {d: d for d in sets}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for d, s in sets.items():
        shared: dict[int, int] = {}
        for g in s:
            for e in index[g]:
                if e > d:
                    shared[e] = shared.get(e, 0) + 1
        for e, inter in shared.items():
            if round(inter / (len(s) + len(sets[e]) - inter), 6) >= threshold:
                a, b = find(d), find(e)
                if a != b:
                    parent[max(a, b)] = min(a, b)
    return {d: find(d) for d in sets}


def checksum(components: dict[int, int]) -> tuple[int, int, int]:
    """(rows, sum of id*P + component_id, distinct components) — the same
    triple :func:`checksum_columns` computes in Spark."""
    return (
        len(components),
        sum(i * _P + c for i, c in components.items()),
        len(set(components.values())),
    )


def checksum_columns(F):
    """Spark aggregate columns matching :func:`checksum`."""
    return [
        F.count("*"),
        F.sum(F.col("id") * F.lit(_P) + F.col("component_id")),
        F.countDistinct("component_id"),
    ]
