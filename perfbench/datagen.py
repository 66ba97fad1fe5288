"""Seeded labeled input for the ``rf_fit`` workload.

``write_labeled`` writes only ``embeddings`` (``vec_id`` bigint,
``embedding`` array<float>, ``label`` int), with the column names and
physical types of the engine's test corpus, as one-row-group parquet.
Ten classes are drawn around per-class centres, so held-out accuracy is
far above chance and the random-forest keys' accuracy floors hold. The
same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLASSES = 10
_SIGNAL = 0.05

_SCHEMA = pa.schema(
    [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
)


def write_labeled(out_dir: str, seed: int, rows: int) -> dict:
    """Write ``embeddings.parquet``: ``rows`` × 64 features, 10 classes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    labels = rng.integers(0, CLASSES, rows).astype(np.int32)
    # the class centres do not depend on the seed: every seed draws points
    # around the same geometry, so how hard the classes are to separate
    # (and with it the fitted forest's size) stays the same across seeds
    centers = np.random.default_rng(0).normal(0.0, _SIGNAL, (CLASSES, DIM))
    vecs = (rng.normal(0.0, 0.1, (rows, DIM)) + centers[labels]).astype(np.float32)
    table = pa.table({
        "vec_id": np.arange(rows, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), DIM
        ).cast(pa.list_(pa.float32())),
        "label": labels,
    }, schema=_SCHEMA)
    pq.write_table(table, os.path.join(out_dir, "embeddings.parquet"))
    return {"rows": rows, "features": DIM, "classes": CLASSES}
