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



def _bounded(rows_per_input: int, weight: int, n_inputs: int, parts: bool):
    """Run the kernel's batch function over one fake pandas batch. Each
    input row has ``rows_per_input`` output rows of measured size
    ``weight`` each, as one dict or (``parts``) a generator of one-row
    dicts."""
    import pandas as pd

    from parse_html_spark.session import _batch_fn

    def row(_key, i):
        if not parts:
            n = rows_per_input
            return {"i": [i] * n, "j": range(n), "weight": [weight] * n}
        return (
            {"i": [i], "j": [j], "weight": [weight]}
            for j in range(rows_per_input)
        )

    batch = pd.DataFrame(
        {"key": [f"k{i}" for i in range(n_inputs)], "n": range(n_inputs)}
    )
    run = _batch_fn(
        row, ("key", "n"), key="key", size=lambda part: sum(part["weight"])
    )
    return list(run(iter([batch])))


def test_batch_kernel_output_bound():
    """Frames are flushed at the row bound and at the size bound, each
    within the bound plus one input row's output; the frames together
    are exactly the unbounded output; no output rows yields no frame."""
    import pandas as pd

    from parse_html_spark.session import _FLUSH_ROWS, _FLUSH_SIZE

    for rows_per_input, weight, n_inputs, parts, n_frames in (
        (1000, 1, 9, False, 2),  # the row bound, 1,000-row dicts
        (1, 1, 9000, False, 3),  # the row bound, one row per input
        (3, 1 << 22, 7, True, 3),  # the size bound, a generator of parts
    ):
        frames = _bounded(rows_per_input, weight, n_inputs, parts)
        assert len(frames) == n_frames
        for fr in frames:
            assert len(fr) < _FLUSH_ROWS + rows_per_input
            assert fr["weight"].sum() < _FLUSH_SIZE + rows_per_input * weight
        got = pd.concat(frames, ignore_index=True)
        want = pd.DataFrame(
            [
                (f"k{i}", i, j, weight)
                for i in range(n_inputs)
                for j in range(rows_per_input)
            ],
            columns=["key", "i", "j", "weight"],
        )
        pd.testing.assert_frame_equal(got[want.columns], want)

    assert _bounded(0, 1, 5, False) == []
    assert _bounded(0, 1, 5, True) == []
