"""Seeded document corpus with planted near-duplicate families.

Writes `documents.parquet` in the `documents` schema (FIXTURES.md B) and
`families.json`, the planted family of every document (-1 for documents
planted as unique). Family sizes follow a Zipf law, and one hub family
holds about 2% of the corpus: the skewed shape (a hot key, a hub cluster)
that the connected-components rounds and the label-propagation vote meet
at scale.

Each family member is a light edit of an earlier member of the same family,
in a binary tree, so a family's diameter grows with the log of its size. Unique
documents draw words from a large Zipf-weighted vocabulary, so they rarely
share MinHash bands with anything.
"""
import itertools
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ["en", "de", "fr", "es", "zh"]
SYLLABLES = ["ka", "lo", "mi", "ne", "po", "ru", "sa", "ti", "vu", "ze",
             "bra", "cle", "dro", "fli", "gru", "shi", "tha", "wen"]
HUB_SHARE = 0.02
FAMILY_SHARE = 0.5
MAX_FAMILY = 40


def _vocabulary():
    words = ["".join(p) for n in (2, 3) for p in itertools.product(SYLLABLES, repeat=n)]
    return words[:4000]


def _zipf_size(rng, s=1.6):
    """A family size in [2, MAX_FAMILY] with P(k) proportional to k^-s."""
    ks = range(2, MAX_FAMILY + 1)
    return rng.choices(ks, weights=[k ** -s for k in ks])[0]


def _mutate(rng, words, by_len):
    """A light edit: a few words swapped for words of the same length, so
    the fixed-offset character shingles after each edit stay aligned."""
    out = list(words)
    for _ in range(max(1, len(out) // 30)):
        i = rng.randrange(len(out))
        out[i] = rng.choice(by_len[len(out[i])])
    return out


def generate(seed, n_docs):
    """Returns (rows, family) where rows are (doc_id, text, lang, source)."""
    rng = random.Random("docs-%d" % seed)
    vocab = _vocabulary()
    cum = list(itertools.accumulate(1.0 / (r + 1) for r in range(len(vocab))))
    by_len = {}
    for w in vocab:
        by_len.setdefault(len(w), []).append(w)

    def fresh():
        return rng.choices(vocab, cum_weights=cum, k=rng.randint(30, 90))

    sizes = [max(2, round(HUB_SHARE * n_docs))]
    while sum(sizes) < FAMILY_SHARE * n_docs:
        sizes.append(_zipf_size(rng))
    texts, family = [], []
    for fid, size in enumerate(sizes):
        # member i edits member (i - 1) // 2: a binary tree, so a family's
        # diameter, and with it the components rounds, depends only on its size
        members = [fresh()]
        while len(members) < size:
            members.append(_mutate(rng, members[(len(members) - 1) // 2], by_len))
        texts += members
        family += [fid] * size
    while len(texts) < n_docs:
        texts.append(fresh())
        family.append(-1)
    order = list(range(len(texts)))
    rng.shuffle(order)
    rows = []
    fam = {}
    for doc_id, i in enumerate(order):
        rows.append((doc_id, " ".join(texts[i]), rng.choice(LANGS),
                     "src%d" % rng.randrange(20)))
        fam[doc_id] = family[i]
    return rows, fam


def write(out_dir, seed, n_docs):
    os.makedirs(out_dir, exist_ok=True)
    rows, fam = generate(seed, n_docs)
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([r[1] for r in rows], pa.string()),
        "lang": pa.array([r[2] for r in rows], pa.string()),
        "source": pa.array([r[3] for r in rows], pa.string()),
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })
    pq.write_table(table, os.path.join(out_dir, "documents.parquet"))
    with open(os.path.join(out_dir, "families.json"), "w") as f:
        json.dump([fam[i] for i in range(len(rows))], f)
