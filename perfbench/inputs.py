"""Seeded input generation for the benchmark workloads.

Every input is a pure function of ``(seed, sizes)``: the same seed gives
byte-identical stores, corpora and frames. Stores and corpora are made
with numpy and the package's non-Spark store writer before any session
exists, outside every timed window; the ingest frames are Spark
expressions of the row key (:func:`lineitem_frame`), so nothing is
shipped from the driver. Alongside each input, the generator returns
the numbers the checks need (sums, counts, groups), computed with numpy
from the same arrays.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

#: input sizes per scale; ``tiny`` feeds the self-test
SIZES = {
    "full": {
        "grid_side": 512,
        "grid_chunk": 32,
        "small_rows": 4096,
        "bulk_rows": 131_072,
        "append_rows": 16_384,
        "bulk_chunk": 16_384,
        "docs": 1500,
        "dup_groups": 30,
    },
    "tiny": {
        "grid_side": 64,
        "grid_chunk": 16,
        "small_rows": 512,
        "bulk_rows": 70_000,
        "append_rows": 1024,
        "bulk_chunk": 8192,
        "docs": 300,
        "dup_groups": 6,
    },
}

GRID_INT_ARRAYS = ("i1", "i2", "i3")
GRID_FLOAT_ARRAYS = ("f1", "f2", "f3")
#: fill values chosen non-zero so absent chunks change the column sums
GRID_FILL = {"i1": 7, "i2": -3, "i3": 11, "f1": 0.5, "f2": -1.25, "f3": 2.0}
ABSENT_FRAC = 0.05


def dir_stats(path: str) -> tuple:
    """(object count, bytes) of every file under ``path``."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(root, f))
    return n, size


@dataclass
class GridStore:
    path: str
    rows: int
    sums: dict  # column -> exact expected SUM
    absent_chunks: int
    objects: int = 0
    nbytes: int = 0


def make_grid_store(path: str, seed: int, side: int, chunk: int) -> GridStore:
    """2-D blosc-LZ4 store: lat/lon coordinates plus three int64 and three
    float64 data arrays, with 5% of each data array's chunks (a seeded
    choice) left unwritten so they read as the array's fill value."""
    from arrow_zarr_spark.zarr.store import open_store
    from arrow_zarr_spark.zarr.writer import create_array, write_chunk, write_root_group

    rng = np.random.default_rng([seed, 1])
    lat = np.round(np.linspace(-60.0, 60.0, side), 6)
    lon = np.round(np.linspace(-180.0, 179.0, side), 6)
    g = side // chunk
    store = open_store(path)
    write_root_group(store)
    sums = {}
    absent_total = 0
    for name, vec in (("lat", lat), ("lon", lon)):
        meta = create_array(
            store, name, shape=vec.shape, chunk_shape=(chunk,), dtype=vec.dtype,
            fill_value=0, dimension_names=(name,), compression="blosc-lz4",
        )
        for i in range(g):
            write_chunk(store, meta, (i,), vec[i * chunk:(i + 1) * chunk])
    sums["lat"] = float(lat.sum() * side)
    sums["lon"] = float(lon.sum() * side)
    for name in GRID_INT_ARRAYS + GRID_FLOAT_ARRAYS:
        if name in GRID_INT_ARRAYS:
            data = rng.integers(-1000, 1000, size=(side, side), dtype=np.int64)
        else:
            # multiples of 1/8: float sums are exact in any order
            data = rng.integers(-8000, 8000, size=(side, side)) / 8.0
        meta = create_array(
            store, name, shape=data.shape, chunk_shape=(chunk, chunk),
            dtype=data.dtype, fill_value=GRID_FILL[name],
            dimension_names=("lat", "lon"), compression="blosc-lz4",
        )
        absent = np.zeros(g * g, dtype=bool)
        absent[rng.choice(g * g, size=round(ABSENT_FRAC * g * g), replace=False)] = True
        absent = absent.reshape(g, g)
        absent_total += int(absent.sum())
        seen = data.copy()
        for i in range(g):
            for j in range(g):
                block = (slice(i * chunk, (i + 1) * chunk), slice(j * chunk, (j + 1) * chunk))
                if absent[i, j]:
                    seen[block] = GRID_FILL[name]
                else:
                    write_chunk(store, meta, (i, j), data[block])
        sums[name] = int(seen.sum()) if name in GRID_INT_ARRAYS else float(seen.sum())
    out = GridStore(path, side * side, sums, absent_total)
    out.objects, out.nbytes = dir_stats(path)
    return out


def lineitem_columns(keys: np.ndarray, seed: int) -> dict:
    """Lineitem-shaped numeric columns as a pure function of the key.

    The same formulas run as Spark column expressions in
    :func:`lineitem_frame`, so a frame built with ``spark.range`` holds
    exactly these values without shipping data from the driver."""
    k = keys.astype(np.int64)
    return {
        "l_orderkey": k,
        "l_partkey": (k * 7919 + seed) % 20000,
        "l_suppkey": (k * 104729 + seed) % 1000,
        "l_quantity": ((k * 31 + seed) % 50 + 1).astype(np.float64),
        "l_extendedprice": ((k * 613 + seed) % 100000).astype(np.float64) / 100.0,
        "l_discount": ((k * 17 + seed) % 11).astype(np.float64) / 100.0,
    }


def lineitem_frame(spark, start: int, stop: int, seed: int, partitions: int):
    """Spark twin of :func:`lineitem_columns` over keys ``[start, stop)``,
    ascending, generated on the executors."""
    from pyspark.sql import functions as F

    k = F.col("id")
    s = F.lit(seed)
    return spark.range(start, stop, 1, partitions).select(
        k.alias("l_orderkey"),
        ((k * 7919 + s) % 20000).alias("l_partkey"),
        ((k * 104729 + s) % 1000).alias("l_suppkey"),
        ((k * 31 + s) % 50 + 1).cast("double").alias("l_quantity"),
        (((k * 613 + s) % 100000).cast("double") / 100.0).alias("l_extendedprice"),
        (((k * 17 + s) % 11).cast("double") / 100.0).alias("l_discount"),
    )


def lineitem_agg(cols: dict, lo: int, hi: int) -> tuple:
    """(count, sum quantity, sum extendedprice) over ``lo <= key <= hi``."""
    m = (cols["l_orderkey"] >= lo) & (cols["l_orderkey"] <= hi)
    return (
        int(m.sum()),
        float(cols["l_quantity"][m].sum()),
        float(cols["l_extendedprice"][m].sum()),
    )


#: words per base doc: every length in this range, equally often
_WORDS_PER_DOC = (12, 90)


@dataclass
class Documents:
    rows: list  # (doc_id, text, lang, source, n_chars)
    groups: list = field(default_factory=list)  # lists of doc ids
    nbytes: int = 0


def make_documents(seed: int, n_docs: int, n_groups: int) -> Documents:
    """Documents-shaped corpus with planted near-duplicate groups.

    Base docs draw words from a 4,000-word vocabulary, so two base docs
    never reach the 0.7 word-3-gram Jaccard threshold. Each planted
    group is a long base doc plus 1, 2 or 3 copies, each with one word
    replaced (Jaccard >= 0.8 to the base), and every group must
    collapse to exactly one survivor."""
    rng = np.random.default_rng([seed, 4])
    vocab = np.array([f"w{i:04d}" for i in range(4000)])
    langs = ["en", "de", "fr", "zh", "es"]
    # the seed draws words and positions but not the corpus shape: doc
    # lengths are a fixed multiset and group sizes a fixed cycle, so the
    # work per op does not vary with the seed
    lo, hi = _WORDS_PER_DOC
    lengths = rng.permutation(np.arange(n_docs) % (hi - lo) + lo)
    texts = [list(rng.choice(vocab, size=int(n))) for n in lengths]
    groups = []
    # plant groups over distinct long base docs, appending the copies
    long_ids = [i for i, t in enumerate(texts) if len(t) >= 60]
    bases = rng.choice(long_ids, size=n_groups, replace=False)
    for g, b in enumerate(bases):
        members = [int(b)]
        for _ in range(1 + g % 3):
            words = list(texts[b])
            pos = int(rng.integers(5, len(words) - 5))
            words[pos] = f"x{int(rng.integers(0, 1 << 30)):09d}"
            members.append(len(texts))
            texts.append(words)
        groups.append(members)
    rows = []
    nbytes = 0
    for i, words in enumerate(texts):
        text = " ".join(words)
        nbytes += len(text) + 8
        rows.append((i, text, langs[i % 5], f"src{i % 7}", len(text)))
    return Documents(rows, groups, nbytes)
