"""Summarise a scale-factor ``documents.parquet`` into the statistics the
corpus generator resamples from: whitespace-token counts per word and
the number of documents per token length.

    python3 perfbench/sf_stats.py SF_DIR > perfbench/sf01_documents.json

``perfbench/sf01_documents.json`` was made this way from the sf0.1
fixtures (5,000 documents), which are not part of the repository.
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

import pyarrow.parquet as pq


def doc_stats(sf_dir: str) -> dict:
    texts = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    words, lengths = Counter(), Counter()
    for t in texts:
        toks = t.split()
        words.update(toks)
        lengths[len(toks)] += 1
    return {
        "n_docs": len(texts),
        "word_counts": dict(sorted(words.items())),
        "length_counts": {str(n): c for n, c in sorted(lengths.items())},
    }


if __name__ == "__main__":
    json.dump(doc_stats(sys.argv[1]), sys.stdout, indent=1)
    sys.stdout.write("\n")
