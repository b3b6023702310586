"""Driver-built numpy arrays shipped to Arrow-UDF workers by Spark itself.

The one way large driver-built side inputs (the MinHash signature matrix,
the exact-ANN reference matrix) reach Python workers.  Bounded small
arrays (IVF centroids, PQ codebooks) ride in the UDF closure instead.

Reading a Python broadcast variable from ``mapInPandas`` /
``applyInPandas`` re-ships and re-unpickles the value far more often
than once per worker (measured +15 s wall at sf1.0 for a 29 MB matrix
with an access-only kernel).  Instead the driver writes one ``.npz``
into ``SparkFiles.getRootDirectory()`` (atomic rename, content-hashed
name, so identical arrays are written and registered once) and
registers it with ``SparkContext.addFile``.  Executors fetch it from the
driver's file server, and Spark deletes that directory at ``stop()``.
Every reused Python worker loads a name once into the module-level
``_CACHE`` (guide §4.5 — heavyweight init once per worker; the module
is importable, so worker reuse preserves the global).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
from pyspark import SparkFiles

#: worker-side cache, keyed by file name; bounded to a handful of
#: entries so a long-lived worker cannot accumulate matrices
_CACHE: dict = {}
_CACHE_MAX = 4


def write_arrays(spark, **arrays: np.ndarray) -> str:
    """Ship named arrays to the workers of ``spark``'s context.  Returns
    the bare file name for :func:`read_arrays`.  Arrays must have a
    fixed-width dtype (``np.load`` refuses ``object`` arrays)."""
    h = hashlib.md5()
    for key in sorted(arrays):
        a = np.ascontiguousarray(arrays[key])
        h.update(f"{key}:{a.dtype.str}:{a.shape}".encode())
        h.update(a.tobytes())
    name = f"side_{h.hexdigest()[:16]}.npz"
    path = os.path.join(SparkFiles.getRootDirectory(), name)
    if not os.path.exists(path):
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            np.savez(f, **arrays)
        os.replace(tmp, path)
        spark.sparkContext.addFile(path)
    return name


def read_arrays(name: str) -> dict:
    """Worker-side load, once per worker process."""
    hit = _CACHE.get(name)
    if hit is not None:
        return hit
    with np.load(SparkFiles.get(name)) as z:
        out = {k: z[k] for k in z.files}
    if len(_CACHE) >= _CACHE_MAX:
        _CACHE.clear()
    _CACHE[name] = out
    return out
