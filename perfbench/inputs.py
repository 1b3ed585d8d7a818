"""Seeded input generators for the benchmark workloads.

Every array comes from ``numpy.random.default_rng(seed)``, so one seed
gives byte-identical inputs; ``fingerprint`` hashes them so an artifact
can show which inputs a number was measured on.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def blobs(
    rng: np.random.Generator,
    centers: np.ndarray,
    n: int,
    sigma: float,
) -> tuple[np.ndarray, np.ndarray]:
    """``n`` points drawn around ``centers`` with isotropic Gaussian
    noise ``sigma``. Returns ``(labels, points)``."""
    labels = rng.integers(0, len(centers), size=n)
    points = centers[labels] + rng.normal(0.0, sigma, size=(n, centers.shape[1]))
    return labels, points


def separated_centers(rng: np.random.Generator, spacing: float) -> np.ndarray:
    """Four 3-d centers on a jittered regular tetrahedron with edge
    ``spacing``: far enough apart that any one-per-blob init converges
    in two Lloyd steps, whatever the seed."""
    tetra = np.array([[1, 1, 1], [1, -1, -1], [-1, 1, -1], [-1, -1, 1]], float)
    jitter = rng.uniform(-0.05, 0.05, size=tetra.shape)
    return (tetra + jitter) * (spacing / np.sqrt(8.0))


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray, key: str, vec: str) -> None:
    """Parquet file of ``(key bigint, vec array<double>)`` rows."""
    offsets = np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)
    table = pa.table(
        {
            key: pa.array(np.asarray(ids, dtype=np.int64)),
            vec: pa.ListArray.from_arrays(
                pa.array(offsets), pa.array(np.ascontiguousarray(vecs).ravel())
            ),
        }
    )
    pq.write_table(table, path)


def fingerprint(*arrays: np.ndarray) -> str:
    """Content hash of the generated arrays (dtype, shape and bytes)."""
    h = hashlib.sha256()
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(f"{a.dtype}{a.shape}".encode())
        h.update(a.tobytes())
    return h.hexdigest()[:16]
