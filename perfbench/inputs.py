"""Seeded inputs of the workloads.  The same seed gives the same inputs, and
gmx receives only what is generated here.

Span corpora are generated through ``gmx.pipeline.corpus_df`` from a seeded
doc-id sample and cached under ``.perfbench/cache`` in the checkout, keyed by
seed, size and a hash of ``gmx/corpus.py``, ``gmx/serialize.py`` and this
file, so editing the synthesis code can never reuse a stale corpus."""

from __future__ import annotations

import hashlib
import shutil
from pathlib import Path

import numpy as np
import pandas as pd

from gmx.corpus import bbox_halfdeg, standard_of
from gmx.pipeline import corpus_df

ROOT = Path(__file__).resolve().parent.parent
MAX_DOC_ID = 9_000_000  # doc ids render as doc-%08d, so string order = numeric order


def code_tag() -> str:
    h = hashlib.sha1()
    for path in (ROOT / "gmx" / "corpus.py", ROOT / "gmx" / "serialize.py", Path(__file__)):
        h.update(path.read_bytes())
    return h.hexdigest()[:10]


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, input stream)."""

    return np.random.default_rng([seed, int(hashlib.sha1(stream.encode()).hexdigest()[:8], 16)])


def doc_ids(seed: int, n: int, stream: str) -> np.ndarray:
    return np.sort(rng_for(seed, stream).choice(MAX_DOC_ID, n, replace=False) + 1)


def span_corpus(spark, cache: Path, seed: int, n: int, stream: str, partitions: int) -> tuple[str, np.ndarray]:
    """Path of the span corpus for ``n`` seeded doc ids (plus the catalog
    sibling rows gmx.corpus adds), generating it on first use."""

    ids = doc_ids(seed, n, stream)
    path = cache / f"corpus-{stream}-{seed}-{n}-{code_tag()}"
    if not (path / "_SUCCESS").exists():
        id_dir = cache / f"{path.name}.ids"
        id_dir.mkdir(parents=True, exist_ok=True)
        pd.DataFrame({"doc_id": ids.astype("int64")}).to_parquet(id_dir / "documents.parquet")
        corpus_df(spark, str(id_dir), partitions=partitions).write.mode("overwrite").parquet(str(path))
        shutil.rmtree(id_dir)
    return str(path), ids


def expected_extents(ids) -> pd.DataFrame:
    """(docnum, west, south, east, north) in degrees from the corpus's
    half-degree arithmetic (gmx.corpus.bbox_halfdeg)."""

    rows = [(int(i), *(h / 2.0 for h in bbox_halfdeg(int(i)))) for i in ids]
    return pd.DataFrame(rows, columns=["docnum", "west", "south", "east", "north"])


def extents_table(ids) -> pd.DataFrame:
    """The extents rows ``gmx.geometry.extents_df`` yields for these ids
    (the corpus has no antimeridian-crossing boxes, so one part each)."""

    frame = expected_extents(ids)
    return pd.DataFrame({
        "doc_id": [f"doc-{i:08d}" for i in frame.docnum],
        "standard": [standard_of(int(i)) for i in frame.docnum],
        "west": frame.west, "south": frame.south, "east": frame.east, "north": frame.north,
        "part": np.zeros(len(frame), dtype="int32"),
        "split": np.zeros(len(frame), dtype=bool),
    })


# ------------------------------------------------------------ serve probes

def points(rng: np.random.Generator, kind: str, n: int, first_id: int, extents: pd.DataFrame) -> pd.DataFrame:
    """Query points on the half-degree lattice.

    - ``uniform``: anywhere on the globe.
    - ``hot``: packed within 2 degrees of three document centroids, so they
      fall into a few dense cells whatever the seed.
    - ``sparse``: the north-east corner (lon >= 170, lat >= 85), where the
      corpus has no centroids, so kNN must widen its ring or fall back."""

    if kind == "uniform":
        lon = rng.integers(-360, 361, n)
        lat = rng.integers(-180, 181, n)
    elif kind == "hot":
        # west + east in degrees is the centroid longitude in half degrees
        pick = rng.choice(len(extents), 3, replace=False)[rng.integers(0, 3, n)]
        lon = np.clip(np.floor(extents.west.to_numpy() + extents.east.to_numpy())[pick]
                      + rng.integers(-4, 5, n), -360, 360)
        lat = np.clip(np.floor(extents.south.to_numpy() + extents.north.to_numpy())[pick]
                      + rng.integers(-4, 5, n), -180, 180)
    elif kind == "sparse":
        lon = rng.integers(340, 361, n)
        lat = rng.integers(170, 181, n)
    else:
        raise ValueError(kind)
    return pd.DataFrame({
        "point_id": np.arange(first_id, first_id + n, dtype="int64"),
        "lon": lon / 2.0,
        "lat": lat / 2.0,
    })


def tiles(rng: np.random.Generator, z: int, count: int) -> pd.DataFrame:
    """``count`` distinct raster tiles at zoom ``z``; the tile id is numeric
    text so both the engine and the oracle can fingerprint it."""

    side = 1 << z
    cells = rng.choice(side * side, min(count, side * side), replace=False)
    x, y = cells % side, cells // side
    return pd.DataFrame({
        "tile_id": [f"{z:02d}{a:06d}{b:06d}" for a, b in zip(x, y)],
        "z": np.full(len(cells), z, dtype="int32"),
        "x": x.astype("int32"),
        "y": y.astype("int32"),
    })


def write_parts(frame: pd.DataFrame, path: Path, parts: int) -> None:
    """Write ``frame`` as ``parts`` parquet files, so scans run in parallel."""

    path.mkdir(parents=True, exist_ok=True)
    for k, chunk in enumerate(np.array_split(np.arange(len(frame)), parts)):
        frame.iloc[chunk].to_parquet(path / f"part-{k:03d}.parquet", index=False)
