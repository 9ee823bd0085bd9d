"""The local worker daemon's path choice: the installed pyspark and py4j go
ahead of SPARK_HOME's zips only when their versions equal the zipped ones;
anything else leaves sys.path exactly as Spark set it."""

import zipfile

from vlm_ocr_doc_reader_spark._pydaemon import compiled_first


def _version_py(version: str) -> str:
    return f"__version__: str = '{version}'\n"


def _installed(root, pyspark="4.1.2", py4j="0.10.9.9") -> str:
    for pkg, version in (("pyspark", pyspark), ("py4j", py4j)):
        if version is not None:
            (root / pkg).mkdir(parents=True)
            (root / pkg / "__init__.py").write_text("")
            (root / pkg / "version.py").write_text(_version_py(version))
    return str(root)


def _zip(path, package: str, version: str) -> str:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{package}/__init__.py", "")
        z.writestr(f"{package}/version.py", _version_py(version))
    return str(path)


def _spark_path(tmp_path, pyspark_zip="4.1.2"):
    """Spark's daemon order: the zips, then the user's PYTHONPATH, then
    the interpreter's own entries with site-packages last."""
    zips = [_zip(tmp_path / "pyspark.zip", "pyspark", pyspark_zip),
            _zip(tmp_path / "py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9")]
    user = tmp_path / "user"
    user.mkdir()
    return zips, [str(user), str(tmp_path / "python311.zip")]


def test_equal_versions_put_installed_pyspark_first(tmp_path):
    zips, head = _spark_path(tmp_path)
    site = _installed(tmp_path / "site-packages")
    path = zips + head + [site]
    assert compiled_first(path) == head + [site] + zips


def test_zips_land_right_behind_site_packages(tmp_path):
    zips, head = _spark_path(tmp_path)
    site = _installed(tmp_path / "site-packages")
    after = str(tmp_path / "later")
    assert compiled_first(zips + head + [site, after]) == \
        head + [site] + zips + [after]


def test_version_mismatch_leaves_path_untouched(tmp_path):
    zips, head = _spark_path(tmp_path, pyspark_zip="4.0.0")
    path = zips + head + [_installed(tmp_path / "site-packages")]
    assert compiled_first(path) == path


def test_py4j_mismatch_leaves_path_untouched(tmp_path):
    zips, head = _spark_path(tmp_path)
    path = zips + head + [_installed(tmp_path / "site-packages",
                                     py4j="0.10.9.7")]
    assert compiled_first(path) == path


def test_missing_installed_pyspark_leaves_path_untouched(tmp_path):
    zips, head = _spark_path(tmp_path)
    path = zips + head + [_installed(tmp_path / "site-packages",
                                     pyspark=None)]
    assert compiled_first(path) == path


def test_no_pyspark_zip_leaves_path_untouched(tmp_path):
    _, head = _spark_path(tmp_path)
    site = _installed(tmp_path / "site-packages")
    path = head + [site]
    assert compiled_first(path) == path
    # pyspark already comes from a directory: nothing to move either
    (tmp_path / "again").mkdir()
    zips, _ = _spark_path(tmp_path / "again")
    path = [site] + zips + head
    assert compiled_first(path) == path
