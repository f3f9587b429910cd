"""The Python worker daemon that imports pyspark off a zipimporter
(``fineweb_legal_spark.worker_daemon``) and ``get_spark``'s choice of it.

The live test counts importers in a real worker; it times nothing.
"""

from __future__ import annotations

import json
import os
import zipfile

import pandas as pd
import pytest

from fineweb_legal_spark import session
from fineweb_legal_spark.session import DAEMON_KEY, DAEMON_MODULE, worker_daemon_conf
from fineweb_legal_spark.worker_daemon import clean_path


def test_workers_import_pyspark_off_zipimporters(spark):
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def probe(s: pd.Series) -> pd.Series:
        import sys
        import zipimport

        import pyspark

        zips = [
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
        ]
        return pd.Series([json.dumps({"pyspark": pyspark.__file__, "zips": zips})] * len(s))

    assert spark.sparkContext.getConf().get(DAEMON_KEY) == DAEMON_MODULE
    seen = [json.loads(r[0]) for r in spark.range(0, 8, 1, 2).select(probe("id")).collect()]
    for worker in seen:
        assert ".zip" not in worker["pyspark"], worker
        assert not [k for k in worker["zips"] if "pyspark.zip" in k or ".jar" in k], worker


def _spark_home(root, zipped=b"__version__ = '1'\n", extracted=b"__version__ = '1'\n"):
    """``root/python/lib/pyspark.zip`` holding ``pyspark/version.py``, and,
    unless ``extracted`` is None, the tree beside it holding its own copy."""
    lib = root / "python" / "lib"
    lib.mkdir(parents=True)
    archive = lib / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/version.py", zipped)
    if extracted is not None:
        (root / "python" / "pyspark").mkdir()
        (root / "python" / "pyspark" / "version.py").write_bytes(extracted)
    return str(archive)


def test_clean_path_swaps_zip_for_same_tree_and_drops_jars(tmp_path):
    archive = _spark_home(tmp_path)
    jar = str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar")
    other = str(tmp_path / "py4j-src.zip")
    cache = {
        archive: "zip",
        os.path.join(archive, "pyspark", "sql"): "zip",
        jar: "jar",
        other: "py4j",
        archive + "-other": "kept",
    }
    out = clean_path(["/cwd", archive, other, jar, "/site"], cache)
    assert out == ["/cwd", str(tmp_path / "python"), other, "/site"]
    assert cache == {other: "py4j", archive + "-other": "kept"}


def test_clean_path_keeps_zip_whose_tree_differs(tmp_path):
    archive = _spark_home(tmp_path, extracted=b"__version__ = '2'\n")
    cache = {archive: "zip"}
    assert clean_path([archive], cache) == [archive]
    assert cache == {archive: "zip"}


def test_clean_path_keeps_zip_without_tree(tmp_path):
    archive = _spark_home(tmp_path, extracted=None)
    cache = {archive: "zip"}
    assert clean_path([archive], cache) == [archive]
    assert cache == {archive: "zip"}


def test_daemon_chosen_for_local_master_and_importable_dir(tmp_path):
    assert worker_daemon_conf("local[4]", {}, str(tmp_path), ["/x", str(tmp_path)]) == DAEMON_MODULE
    assert worker_daemon_conf("local", {}, str(tmp_path), [str(tmp_path) + "/"]) == DAEMON_MODULE
    link = tmp_path / "link"
    link.symlink_to(tmp_path)
    assert worker_daemon_conf("local[*]", {}, str(link), [str(tmp_path)]) == DAEMON_MODULE


@pytest.mark.parametrize("master", ["spark://host:7077", "local-cluster[2,1,1024]", "yarn", "k8s://h"])
def test_cluster_master_keeps_pyspark_daemon(tmp_path, master):
    assert worker_daemon_conf(master, {}, str(tmp_path), [str(tmp_path)]) is None


def test_callers_value_wins(tmp_path, monkeypatch):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    mine = {DAEMON_KEY: "pyspark.daemon"}
    assert worker_daemon_conf("local[4]", mine, str(tmp_path), [str(tmp_path)]) is None
    # spark-submit's value is read from its JVM; a driver without one has none
    assert not session._submitted(DAEMON_KEY)


def test_library_from_zip_or_unseen_dir_keeps_pyspark_daemon(tmp_path):
    archive = tmp_path / "fineweb_legal_spark.zip"
    archive.write_bytes(b"")
    # a --py-files zip is on the driver's path but is no directory
    assert worker_daemon_conf("local[4]", {}, str(archive), [str(archive)]) is None
    # a plain directory that no worker imports from
    assert worker_daemon_conf("local[4]", {}, str(tmp_path), ["/elsewhere"]) is None


def test_worker_import_dirs_are_cwd_pythonpath_and_site(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join(["/a", "", "/b"]))
    dirs = session._worker_import_dirs()
    assert dirs[:3] == [str(tmp_path), "/a", "/b"]
    import site

    assert set(site.getsitepackages()) <= set(dirs)
