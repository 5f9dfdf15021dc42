"""Benchmark inputs, generated from seeds inside the checkout.

`sf01_documents` rebuilds the shape of the 5,000-doc sf0.1 test table
`documents.parquet` (30-word vocabulary drawn uniformly, 10-100 words per
doc, ~5% of docs ending in `dup`, five languages with `en` the largest),
because the benchmark may read nothing outside its checkout. The corpus
is fixed: only the query mix depends on the run's seed.
"""

from __future__ import annotations

import random

SF01_VOCAB = ("a agg batch big column customer data fast filter group hash "
              "join key line merge order part query row scan slow small "
              "sort spark stream table the value vector window").split()
SF01_DOCS = 5000
SF01_SEED = 42
_LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15),
          ("de", 0.14))


def url_of(doc_id: int) -> str:
    """The url `sparksearch.corpus` derives from a doc_id."""
    return f"https://site{doc_id % 97}.example/p/{doc_id:08d}"


def sf01_documents() -> list[dict]:
    """The fixed documents rows: doc_id, text, lang."""
    rng = random.Random(SF01_SEED)
    langs, weights = zip(*_LANGS)
    rows = []
    for doc_id in range(SF01_DOCS):
        n = rng.randint(10, 100)
        words = [rng.choice(SF01_VOCAB) for _ in range(n)]
        if rng.random() < 0.05:
            words[-1] = "dup"
        rows.append({"doc_id": doc_id, "text": " ".join(words),
                     "lang": rng.choices(langs, weights)[0]})
    return rows
