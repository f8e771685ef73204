"""``session.package_zip`` ships exactly the sources it was built from —
two checkouts on one host must never import each other's UDF code.
Spark-free."""

import os
import time
import zipfile

import pytest

import datamart_spark.session
from datamart_spark.session import package_zip


@pytest.fixture
def make_package(monkeypatch):
    """Point ``package_zip`` at a fake package under ``root``."""
    def make(root, body: str) -> str:
        pkg = root / "datamart_spark"
        (pkg / "query").mkdir(parents=True)
        (pkg / "__init__.py").write_text("")
        (pkg / "query" / "kernel.py").write_text(body)
        (pkg / "notes.txt").write_text("not shipped")
        monkeypatch.setattr(datamart_spark.session, "__file__", str(pkg / "session.py"))
        return str(pkg)
    return make


def test_zip_is_keyed_by_package_contents(tmp_path, make_package):
    dest = tmp_path / "zips"
    dest.mkdir()
    make_package(tmp_path / "a", "K = 1\n")
    za = package_zip(str(dest))
    make_package(tmp_path / "b", "K = 2\n")
    zb = package_zip(str(dest))
    assert za != zb
    with zipfile.ZipFile(zb) as z:
        assert sorted(z.namelist()) == [
            "datamart_spark/__init__.py", "datamart_spark/query/kernel.py",
        ]
        assert z.read("datamart_spark/query/kernel.py") == b"K = 2\n"

    # an unchanged package reuses its own zip, not rewritten
    make_package(tmp_path / "a2", "K = 1\n")
    before = os.stat(za).st_ino
    assert package_zip(str(dest)) == za
    assert os.stat(za).st_ino == before
    # no temp files left behind
    assert sorted(os.listdir(dest)) == sorted(
        os.path.basename(p) for p in (za, zb))


def test_zip_changes_with_an_edit(tmp_path, make_package):
    pkg = make_package(tmp_path / "a", "K = 1\n")
    first = package_zip(str(tmp_path))
    with open(os.path.join(pkg, "query", "kernel.py"), "w") as f:
        f.write("K = 3\n")
    second = package_zip(str(tmp_path))
    assert second != first
    with zipfile.ZipFile(second) as z:
        assert z.read("datamart_spark/query/kernel.py") == b"K = 3\n"


def test_new_zip_removes_siblings_unused_for_a_day(tmp_path, make_package):
    make_package(tmp_path / "a", "K = 1\n")
    old = package_zip(str(tmp_path))
    make_package(tmp_path / "b", "K = 2\n")
    recent = package_zip(str(tmp_path))
    day_ago = time.time() - 25 * 3600
    os.utime(old, (day_ago, day_ago))
    os.utime(recent, (day_ago, day_ago))
    make_package(tmp_path / "b2", "K = 2\n")
    assert package_zip(str(tmp_path)) == recent  # reuse marks it used
    other = tmp_path / "other.zip"
    other.write_text("")
    os.utime(other, (day_ago, day_ago))

    make_package(tmp_path / "c", "K = 3\n")
    newest = package_zip(str(tmp_path))
    assert not os.path.exists(old)
    assert os.path.exists(recent) and os.path.exists(newest)
    assert other.exists()  # not a package zip: never touched
