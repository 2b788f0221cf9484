"""Seeded input table for the `queries` workload.

The same seed always gives the same table. Its shape follows the repo's
`documents` test tables, at 2,000 docs: 10-100 words over a 30-word
vocabulary, 5% of the docs a copy of another doc plus " dup", five
languages and twenty sources.
"""
import os

import numpy as np
import pandas as pd

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.148, 0.148, 0.146, 0.148]


def documents(rng, n=2000):
    lengths = rng.integers(10, 101, size=n)
    words = np.array(VOCAB)
    text = [" ".join(words[rng.integers(0, len(VOCAB), size=k)]) for k in lengths]
    dups = rng.choice(n, size=n // 20, replace=False)
    for d in dups:
        text[d] = text[int(rng.integers(0, n))] + " dup"
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def generate(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    documents(rng).to_parquet(os.path.join(out_dir, "documents.parquet"), index=False)
