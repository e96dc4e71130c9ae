"""Print the statistics that inputs.py reproduces, for one directory
holding documents.parquet and embeddings.parquet.

    python3 perfbench/corpus_stats.py "$SPARK_GRAFT_SF_DIR"
    python3 perfbench/corpus_stats.py perfbench/.work/cache/corpus_d500_v500_s0

Run it on a test-table directory and on a generated one to compare them.
"""

from __future__ import annotations

import collections
import sys
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq


def stats(root: Path) -> dict:
    docs_file = pq.ParquetFile(root / "documents.parquet")
    emb_file = pq.ParquetFile(root / "embeddings.parquet")
    docs = docs_file.read().to_pydict()
    texts = docs["text"]
    dup = [t.endswith(" dup") for t in texts]
    words = np.array([len(t.split()) - d for t, d in zip(texts, dup)])
    langs = collections.Counter(docs["lang"])
    emb = emb_file.read().to_pydict()
    vecs = np.array(emb["embedding"], dtype=np.float64)
    norms = np.linalg.norm(vecs, axis=1)
    return {
        "documents": len(texts),
        "documents row groups": docs_file.metadata.num_row_groups,
        "words per document min/mean/max": (int(words.min()), round(float(words.mean()), 1),
                                            int(words.max())),
        "vocabulary (without 'dup')": len({w for t in texts for w in t.split()} - {"dup"}),
        "near-copy share": round(float(np.mean(dup)), 4),
        "language shares": {k: round(v / len(texts), 3) for k, v in langs.most_common()},
        "sources": len(set(docs["source"])),
        "n_chars == len(text)": all(n == len(t) for n, t in zip(docs["n_chars"], texts)),
        "vectors": len(vecs),
        "embeddings row groups": emb_file.metadata.num_row_groups,
        "dim": vecs.shape[1],
        "norm min/max": (round(float(norms.min()), 4), round(float(norms.max()), 4)),
        "labels": len(set(emb["label"])),
    }


def main() -> int:
    for key, value in stats(Path(sys.argv[1])).items():
        print(f"{key:<34} {value}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
