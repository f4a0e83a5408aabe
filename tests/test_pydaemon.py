"""The Python worker daemon's path decision (sbse.pydaemon) and its wiring
in sbse.session: workers load the installed pyspark only when its version
equals the zip's, and only a JVM that get_spark launches in local mode
selects the daemon."""

import os
import subprocess
import sys
import zipfile

import pytest

from sbse import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(tmp_path, version):
    z = tmp_path / "lib" / "pyspark.zip"
    z.parent.mkdir()
    with zipfile.ZipFile(z, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(z)


def _installed(tmp_path, version):
    site = tmp_path / "site-packages"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "version.py").write_text(f'__version__ = "{version}"\n')
    return str(site)


def test_equal_versions_put_zip_behind_installed(tmp_path):
    z, site = _zip(tmp_path, "4.1.2"), _installed(tmp_path, "4.1.2")
    path = ["/work", z, "/py4j.zip", "/stdlib", site, "/other"]
    new, info = pydaemon.worker_path(path)
    assert new == ["/work", "/py4j.zip", "/stdlib", site, z, "/other"]
    assert info == {"zip": "4.1.2", "installed": "4.1.2", "source": "installed"}


def test_version_mismatch_leaves_path(tmp_path):
    z, site = _zip(tmp_path, "4.1.2"), _installed(tmp_path, "4.0.0")
    path = ["/work", z, site]
    new, info = pydaemon.worker_path(path)
    assert new == path
    assert info == {"zip": "4.1.2", "installed": "4.0.0", "source": "zip"}


def test_missing_installed_copy_leaves_path(tmp_path):
    z = _zip(tmp_path, "4.1.2")
    path = ["/work", z, str(tmp_path)]
    new, info = pydaemon.worker_path(path)
    assert new == path and info["source"] == "zip"


def test_no_zip_leaves_path(tmp_path):
    site = _installed(tmp_path, "4.1.2")
    path = ["/work", site]
    assert pydaemon.worker_path(path)[0] == path


def test_unreadable_zip_leaves_path(tmp_path):
    z = tmp_path / "pyspark.zip"
    z.write_bytes(b"not a zip")
    path = [str(z), _installed(tmp_path, "4.1.2")]
    new, info = pydaemon.worker_path(path)
    assert new == path and info["source"] == "zip"


def test_import_sbse_imports_no_pyspark():
    """``python -m sbse.pydaemon`` imports the sbse package before it moves
    the zip; a pyspark import there would load pyspark from the zip."""
    code = ("import sys, sbse, sbse.pydaemon; "
            "assert 'pyspark' not in sys.modules, "
            "sorted(m for m in sys.modules if m.startswith('pyspark'))")
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def test_daemon_conf_only_for_local_jvm_launch(monkeypatch):
    from sbse.session import worker_daemon_conf

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert worker_daemon_conf("yarn") == {}
    assert worker_daemon_conf("spark://host:7077") == {}
    assert worker_daemon_conf("local-cluster[2,1,1024]") == {}
    assert "spark.sbse.pythonWorkerPyspark" in worker_daemon_conf("local[2]")
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert worker_daemon_conf("local[2]") == {}


def test_workers_load_the_recorded_pyspark(spark):
    """The recorded decision is what a worker actually imports; with equal
    versions that is the installed copy, not the zip."""
    record = spark.conf.get("spark.sbse.pythonWorkerPyspark")
    source, *kv = record.split()
    versions = dict(x.split("=") for x in kv)
    files = spark.sparkContext.parallelize(range(2), 2).map(
        lambda _: __import__("pyspark").__file__).collect()
    from_zip = {".zip" + os.sep in f for f in files}
    assert from_zip == {source == "zip"}, (record, files)
    if versions["zip"] == "None" or versions["zip"] != versions["installed"]:
        pytest.skip(f"installed pyspark differs from the zip: {record}")
    assert source == "installed"
