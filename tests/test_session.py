"""The shipped package zip is keyed on the package's content."""

import os
import shutil
import tempfile
import zipfile

import parse_html_spark
from parse_html_spark.session import _package_zip


def test_package_zip_name_follows_file_bytes(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    pkg = tmp_path / "src" / "parse_html_spark"
    shutil.copytree(
        os.path.dirname(parse_html_spark.__file__),
        pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    first = _package_zip(str(pkg))
    assert _package_zip(str(pkg)) == first  # unchanged code: same zip
    with zipfile.ZipFile(first) as zf:
        assert "parse_html_spark/pipeline.py" in zf.namelist()

    target = pkg / "pipeline.py"
    target.write_bytes(target.read_bytes() + b"\n# edited\n")
    second = _package_zip(str(pkg))
    assert second != first
    with zipfile.ZipFile(second) as zf:
        assert zf.read("parse_html_spark/pipeline.py").endswith(b"# edited\n")
