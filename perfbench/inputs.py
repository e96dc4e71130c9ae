"""Seeded benchmark inputs, generated outside every timed region.

Transcript turns come from the program's own generator
(``sources.transcripts.materialize``) into a cache owned by the benchmark.
The corpus tables (``documents``, ``embeddings``) are generated here to
reproduce the statistics measured on the fixed sf0.01 and sf0.1 test
tables that ``bench.py`` reads from ``$SPARK_GRAFT_SF_DIR`` (README.md
lists them and the command that measured them): a 30-word vocabulary,
10-99 words per document, exactly 5% near-copies suffixed " dup", the
same language mix and 20 sources, and 64-dim unit vectors with ten
labels. Each is one single-row-group parquet file, as those tables are,
so the queries see the same unsplittable-input shape. A run may read
nothing outside its checkout, so the tables are not read directly.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMBED_DIM = 64


def _generate(marker: Path, make):
    """Call ``make`` (which reuses cached files when present) and return
    its result with the seconds the first, uncached generation took."""
    t0 = time.perf_counter()
    result = make()
    if not marker.exists():
        marker.write_text(json.dumps({"generate_s": time.perf_counter() - t0}))
    return result, json.loads(marker.read_text())["generate_s"]


def transcripts(cache: Path, n_turns: int, seed: int) -> tuple[Path, Path, float]:
    """(turns parquet dir, snapshots parquet file, generation seconds)."""
    from fluvio_jolt_spark.sources.transcripts import materialize

    cache.mkdir(parents=True, exist_ok=True)
    (tpath, spath), gen_s = _generate(
        cache / f"transcripts_n{n_turns}_s{seed}.json",
        lambda: materialize(n_turns, cache_dir=cache, seed=seed),
    )
    return tpath, spath, gen_s


def corpus(cache: Path, n_docs: int, n_vecs: int, seed: int) -> tuple[Path, float]:
    """(directory holding documents.parquet and embeddings.parquet,
    generation seconds)."""
    root = cache / f"corpus_d{n_docs}_v{n_vecs}_s{seed}"

    def make() -> Path:
        if not root.exists():
            tmp = root.with_name(root.name + ".tmp")
            tmp.mkdir(parents=True, exist_ok=True)
            pq.write_table(_documents(n_docs, seed), tmp / "documents.parquet")
            pq.write_table(_embeddings(n_vecs, seed), tmp / "embeddings.parquet")
            tmp.rename(root)
        return root

    cache.mkdir(parents=True, exist_ok=True)
    return _generate(root.with_name(root.name + ".json"), make)


def _documents(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    lengths = rng.integers(10, 100, size=n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), size=int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    # near-copies: 5% of the documents become a copy of another one plus
    # a marker word, applied in order so that a copy of a copy can occur
    for i in np.sort(rng.choice(n, size=n // 20, replace=False)):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(n: int, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    vecs = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n).astype(np.int32)),
    })
