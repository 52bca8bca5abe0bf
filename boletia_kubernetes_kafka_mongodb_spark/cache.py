"""The one place that keys, stores and invalidates derived results.

Two kinds of derived result:

- **Session memos** (`memo`): loaded DataFrames, lazily checkpointed
  frames, fitted models, collected arrays — anything a query derives from a
  dataset that a later query in the same application can reuse. The key is
  the memo's name, the dataset directory, the content signature of every
  source table the result reads, and any extra parameters.
- **On-disk artifacts** (`artifact`): write-time layouts (band index,
  IVF/SRP layouts, component maps) under the system temp directory, named
  by a code-version tag plus the source table's content signature, and
  complete once their marker file exists.

The policy is defined here and nowhere else:

- Memos belong to the live application. The first lookup under a new
  ``applicationId`` drops every older entry — a stopped SparkContext's
  DataFrames and checkpoints can never be used again, so keeping them only
  holds driver memory.
- If a named table is absent on disk (a crafted frame behind a mocked
  loader, a directory that does not exist), the build runs uncached. The
  registry never falls back to a path-only key: that is exactly how a
  regenerated dataset at the same path would be served stale results.

Dependency-free: the session is touched only through
``spark.sparkContext.applicationId``.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

_entries: dict = {}
_app: str | None = None
_MISSING = object()


def _signature(sf_dir: str, table: str) -> str | None:
    """Content signature of ``<sf_dir>/<table>.parquet``: its (path, mtime,
    size), or for a directory dataset the recursive per-file (relpath,
    mtime, size) listing — a directory's own mtime does not move when a
    file inside a Hive-partition subdirectory is rewritten. None if the
    table is absent."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        if os.path.isdir(path):

            def _entry(root, f):
                st = os.stat(os.path.join(root, f))
                return (
                    os.path.relpath(os.path.join(root, f), path),
                    st.st_mtime_ns,
                    st.st_size,
                )

            parts = sorted(
                _entry(root, f)
                for root, _dirs, files in os.walk(path)
                for f in files
            )
            sig = f"{path}:{parts}"
        else:
            st = os.stat(path)
            sig = f"{path}:{st.st_mtime_ns}:{st.st_size}"
    except OSError:
        return None
    return hashlib.md5(sig.encode()).hexdigest()[:12]


def dataset_cache_key(sf_dir: str, table: str) -> str:
    """Content signature of one source table, for names of derived on-disk
    state. Raises if the table is absent — a path-only key would serve
    whatever used to live at that path."""
    key = _signature(sf_dir, table)
    if key is None:
        raise FileNotFoundError(
            f"dataset not found for cache key: {os.path.join(sf_dir, f'{table}.parquet')}"
        )
    return key


def memo(spark, name: str, build, sf_dir: str | None = None, tables=(), extra=()):
    """Return the session's memo of ``build()`` under (name, sf_dir,
    content signature of each of ``tables``, extra), building it on a miss.
    Builds uncached when any of ``tables`` is absent on disk.

    No lock: builds run Spark jobs and may nest, and every dict operation
    here is atomic, so two threads missing the same key at once (streaming
    batch callbacks) at worst both build an equivalent value."""
    global _app
    sigs = tuple(_signature(sf_dir, t) for t in tables)
    if None in sigs:
        return build()
    app = spark.sparkContext.applicationId
    if app != _app:
        _entries.clear()
        _app = app
    key = (name, sf_dir, sigs, tuple(extra))
    val = _entries.get(key, _MISSING)
    if val is _MISSING:
        val = _entries[key] = build()
    return val


def forget(sf_dir: str) -> None:
    """Drop every memo keyed on ``sf_dir`` — for writers that rewrite that
    directory in place."""
    for key in [k for k in list(_entries) if k[1] == sf_dir]:
        _entries.pop(key, None)


def artifact(name: str, sf_dir: str, table: str, write, marker: str = "_SUCCESS") -> str:
    """Path of the on-disk artifact ``name`` (carrying its code-version tag)
    built from ``<sf_dir>/<table>``; runs ``write(path)`` first unless the
    marker file says a complete build is already there."""
    path = os.path.join(
        tempfile.gettempdir(), f"boletia_{name}_{dataset_cache_key(sf_dir, table)}"
    )
    if not os.path.exists(os.path.join(path, marker)):
        write(path)
    return path
