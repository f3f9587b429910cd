"""Spark's Python worker daemon, started with pyspark off a zipimporter.

Spark starts its Python daemon as ``python -m <daemon module> <worker
module>`` with ``$SPARK_HOME/python/lib/pyspark.zip``, the py4j zip and
the ``spark-core`` jar at the front of ``PYTHONPATH``. Every forked
worker inherits that path, and every task calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
Under CPython 3.11 that call makes each zipimporter in
``sys.path_importer_cache`` re-read its archive's central directory: 16
importers (12 over pyspark.zip, 2 over the jar, 2 over py4j) cost about
0.2 CPU-s per task on a 4 vCPU host.

This module rewrites ``sys.path`` before pyspark is imported, then runs
``pyspark.daemon.manager()``:

- ``<SPARK_HOME>/python/lib/pyspark.zip`` becomes the extracted tree
  beside it (``<SPARK_HOME>/python``), but only when that tree's
  ``pyspark/version.py`` is byte-equal to the zip's copy;
- ``.jar`` entries are dropped (the spark-core jar holds no ``.py``).

``session.get_spark`` names it as ``spark.python.daemon.module`` where a
local worker can import it (see ``session.worker_daemon_conf``). The
package ``__init__`` imports nothing, so loading this module loads no
pyspark from the zip.
"""

from __future__ import annotations

import os
import sys
import zipfile

_VERSION = "pyspark/version.py"


def _extracted_tree(archive: str) -> str | None:
    """The directory beside ``…/python/lib/pyspark.zip`` that holds the
    same pyspark, or None when there is none or its version differs."""
    tree = os.path.dirname(os.path.dirname(archive))
    try:
        with open(os.path.join(tree, _VERSION), "rb") as f:
            extracted = f.read()
        with zipfile.ZipFile(archive) as z:
            zipped = z.read(_VERSION)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None
    return tree if extracted == zipped else None


def clean_path(path: list[str], importer_cache: dict) -> list[str]:
    """``path`` with pyspark.zip swapped for its extracted tree and every
    ``.jar`` dropped; pops the cache entries of the removed archives."""
    out, removed = [], []
    for entry in path:
        if entry.endswith(".jar"):
            removed.append(entry)
            continue
        if os.path.basename(entry) == "pyspark.zip":
            tree = _extracted_tree(entry)
            if tree is not None:
                removed.append(entry)
                entry = tree
        out.append(entry)
    for key in list(importer_cache):
        if any(key == r or key.startswith(r + os.sep) for r in removed):
            del importer_cache[key]
    return out


def main() -> None:
    sys.path[:] = clean_path(sys.path, sys.path_importer_cache)
    import pyspark.daemon

    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
