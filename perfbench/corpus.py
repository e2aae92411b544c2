"""Seeded synthetic document corpus.

The WAL generator takes its page payloads from a documents parquet, and the
curation workload curates one. Both are made here from the run's seed, so a
run reads nothing outside its own working directory.

Docs are template-drawn like the repository's synthetic test corpus: words
from a 30-word vocabulary, 8 to 100 words per doc. Three kinds of planted
structure give every curation stage work with a known answer:

* exact copies of earlier docs (exact dedup must drop exactly these);
* near copies (an earlier doc with one word replaced) for the LSH stage;
* one email or IPv4 literal in a few docs (PII scrub must count exactly
  these).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cdc_engine.textops import PII_EMAIL_RE, PII_IPV4_RE, PII_PHONE_RE

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def make_docs(
    n: int,
    seed: int,
    exact_share: float = 0.004,
    near_share: float = 0.05,
    pii_share: float = 0.02,
) -> tuple[pd.DataFrame, dict]:
    """Return (docs, planted) where docs has (doc_id, text, lang, source,
    n_chars) and planted counts what the generator put in: ``emails``,
    ``ips`` and ``distinct_texts``."""
    rng = np.random.RandomState(seed)
    vocab = np.array(VOCAB)
    lens = rng.randint(8, 101, size=n)
    kind = rng.random_sample(n)
    pick = rng.random_sample(n)
    pii = rng.random_sample(n)
    langs = rng.choice(len(LANGS), size=n, p=LANG_P)
    texts: list[str] = []
    for i in range(n):
        if i and kind[i] < exact_share:
            texts.append(texts[int(pick[i] * i)])
            continue
        if i and kind[i] < exact_share + near_share:
            words = texts[int(pick[i] * i)].split()
            words[rng.randint(len(words))] = vocab[rng.randint(len(vocab))]
        else:
            words = list(vocab[rng.randint(len(vocab), size=lens[i])])
        if pii[i] < pii_share / 2:
            words.insert(len(words) // 2, f"user{i}@example.com")
        elif pii[i] < pii_share:
            words.insert(len(words) // 2, f"10.{i % 250}.{i // 250 % 250}.7")
        texts.append(" ".join(words))
    docs = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": [LANGS[k] for k in langs],
            "source": [f"src{i % 5}" for i in range(n)],
        }
    )
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    # counted over the final texts: exact copies of a PII doc carry its
    # literal too, and exact dedup runs on the scrubbed text
    scrubbed = (
        docs["text"]
        .str.replace(PII_EMAIL_RE, "[EMAIL]", regex=True)
        .str.replace(PII_IPV4_RE, "[IP]", regex=True)
        .str.replace(PII_PHONE_RE, "[PHONE]", regex=True)
    )
    planted = {
        "emails": int(docs["text"].str.count(PII_EMAIL_RE).sum()),
        "ips": int(docs["text"].str.count(PII_IPV4_RE).sum()),
        "distinct_texts": int(scrubbed.nunique()),
    }
    return docs, planted
