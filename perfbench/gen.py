"""Seeded input generator for the benchmark.

Every table is built from ``numpy.random.default_rng(seed)`` and written with
pyarrow, so the same seed gives byte-identical parquet files and another seed
gives different ones.  The program under test only ever sees these files.

* ``documents_table`` follows the ``documents`` table of the sf0.1 test
  data, whose distribution was measured (5000 rows): every word drawn
  uniformly from the same 30-word vocabulary (each word 3.3-3.4% of tokens),
  10-100 words per document (median 54, mean 54.1), 5% near-duplicates that
  repeat an earlier document plus a trailing ``dup`` (250 rows), languages
  en/zh/es/fr/de at 41/15/15/15/14%, sources ``src0``-``src19`` round robin,
  and ``n_chars`` the text's length.  ``tests/test_perfbench.py`` checks a
  generated table against these figures.
* ``ct_volume`` / ``ellipsoid_mask`` build imaging inputs: CT intensities with
  ``imops_spark.testing.sample_ct``'s two-material recipe, and masks that are
  unions of ellipsoids at seeded positions.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a the data value table row column key hash join scan filter group agg "
    "sort merge window order line part customer query spark stream batch "
    "vector small big fast slow"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    vocab = np.asarray(VOCAB)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def ct_volume(rng: np.random.Generator, shape: tuple[int, int, int]) -> np.ndarray:
    """``testing.sample_ct``'s phantom (water ~N(0,100), air ~N(-1000,100),
    0 outside each slice's inscribed circle), drawn from ``rng``."""
    water = rng.normal(0, 100, size=shape)
    air = rng.normal(-1000, 100, size=shape)
    ct = np.where(rng.random(shape) < 0.5, water, air)
    size = shape[1]
    xs = np.arange(-(size // 2), size - size // 2) ** 2
    ct[:, (xs[:, None] + xs[None, :]) > (size // 2) ** 2] = 0.0
    return ct


def ellipsoid_mask(rng: np.random.Generator, shape: tuple[int, int, int]) -> np.ndarray:
    """One overlapping pair of ellipsoids in each octant: structured
    foreground with eight components and concave shapes.  The sizes and the
    offset within a pair are fixed and only the pair's position is seeded, so
    the foreground volume and component diameters, which set the work of
    labeling and morphology, barely change with the seed."""
    dims = np.asarray(shape, dtype=np.float64)
    grid = np.indices(shape, dtype=np.float64)
    out = np.zeros(shape, dtype=bool)
    for cell in np.ndindex(2, 2, 2):
        base = (np.asarray(cell) + 0.5) / 2 + rng.uniform(-0.04, 0.04, 3)
        for offset, radii in (((-0.05, 0, 0), (0.09, 0.13, 0.11)),
                              ((0.06, 0.03, 0.02), (0.12, 0.07, 0.09))):
            center = (base + offset) * dims
            r = np.asarray(radii) * dims
            out |= sum(((grid[k] - center[k]) / r[k]) ** 2 for k in range(3)) <= 1.0
    return out


def write_table(table: pa.Table, path: str) -> int:
    """Write one table as a single parquet file; returns its size in bytes.
    Statistics and dictionary encoding are pyarrow defaults, and pyarrow
    embeds no timestamp, so the bytes depend only on the table."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)
