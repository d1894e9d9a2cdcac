"""session.py: the shipped package zip, the batch kernel, and the
worker setup every Python entry point runs."""

import ast
import gc
import importlib
import os
import pathlib
import shutil
import sys
import tempfile
import uuid
import weakref
import zipfile
import zipimport

import pytest

import parse_html_spark
from parse_html_spark import session
from parse_html_spark.session import _package_zip, _worker_setup


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
    """Run the kernel's batch function over one Arrow batch. Each input
    row has ``rows_per_input`` output rows of measured size ``weight``
    each, as one dict or (``parts``) a generator of one-row dicts."""
    import pyarrow as pa

    from parse_html_spark.session import _batch_fn

    def row(_key, i):
        if not parts:
            n = rows_per_input
            return {"i": [i] * n, "j": range(n), "weight": [weight] * n}
        return (
            {"i": [i], "j": [j], "weight": [weight]}
            for j in range(rows_per_input)
        )

    batch = pa.RecordBatch.from_pydict(
        {"key": [f"k{i}" for i in range(n_inputs)], "n": range(n_inputs)}
    )
    schema = pa.schema(
        [("key", pa.string()), ("i", pa.int64()), ("j", pa.int32()),
         ("weight", pa.int64())]
    )
    run = _batch_fn(
        row, ("key", "n"), schema, key="key",
        size=lambda part: sum(part["weight"]),
    )
    return list(run(iter([batch])))


def test_batch_kernel_output_bound():
    """Batches are flushed at the row bound and at the size bound, each
    within the bound plus one input row's output; the batches together
    are exactly the unbounded output; no output rows yields no batch."""
    import pyarrow as pa

    from parse_html_spark.session import _FLUSH_ROWS, _FLUSH_SIZE

    for rows_per_input, weight, n_inputs, parts, n_frames in (
        (1000, 1, 9, False, 2),  # the row bound, 1,000-row dicts
        (1, 1, 9000, False, 3),  # the row bound, one row per input
        (3, 1 << 22, 7, True, 3),  # the size bound, a generator of parts
    ):
        frames = _bounded(rows_per_input, weight, n_inputs, parts)
        assert len(frames) == n_frames
        for fr in frames:
            assert fr.num_rows < _FLUSH_ROWS + rows_per_input
            assert sum(fr["weight"].to_pylist()) < (
                _FLUSH_SIZE + rows_per_input * weight
            )
        got = pa.Table.from_batches(frames)
        assert got.to_pydict() == {
            "key": [f"k{i}" for i in range(n_inputs) for _ in range(rows_per_input)],
            "i": [i for i in range(n_inputs) for _ in range(rows_per_input)],
            "j": [j for _ in range(n_inputs) for j in range(rows_per_input)],
            "weight": [weight] * (n_inputs * rows_per_input),
        }

    assert _bounded(0, 1, 5, False) == []
    assert _bounded(0, 1, 5, True) == []


@pytest.mark.parametrize(
    "outs",
    [
        # the batch's first part has no columns
        {0: {}, 1: {"v": [1, 1]}, 2: [{"v": [2]}]},
        # a part with no columns follows parts with rows
        {0: {"v": [0, 0]}, 1: {}, 2: [{"v": [2]}, {}]},
    ],
    ids=["first", "later"],
)
def test_batch_kernel_counts_an_empty_part_as_no_rows(outs):
    """A row output ``{}`` adds no rows and no key, wherever it falls."""
    import pyarrow as pa

    from parse_html_spark.session import _batch_fn

    batch = pa.RecordBatch.from_pydict({"key": ["k0", "k1", "k2"], "n": range(3)})
    schema = pa.schema([("v", pa.int64()), ("key", pa.string())])
    run = _batch_fn(lambda _key, n: outs[n], ("key", "n"), schema, key="key")
    frames = list(run(iter([batch])))
    assert len(frames) == 1
    want = [
        (v, f"k{n}")
        for n, out in outs.items()
        for part in ((out,) if isinstance(out, dict) else out)
        for v in part.get("v", ())
    ]
    got = frames[0].to_pydict()
    assert list(zip(got["v"], got["key"])) == want
    # only empty parts: no rows, no batch
    empty = _batch_fn(lambda _key, n: {}, ("key", "n"), schema, key="key")
    assert list(empty(iter([batch]))) == []


def test_batch_kernel_emits_the_exact_arrow_schema():
    """Each output batch carries the Arrow types of its schema, in schema
    order, whatever the blocks were: an int64 ndarray block becomes an
    ``int`` field, a range a ``long`` one, and ``array<string>`` lists
    that are all empty still type. Input values arrive as Python
    objects: a binary as bytes, null as None."""
    import numpy as np
    import pyarrow as pa

    from parse_html_spark.session import _batch_fn

    schema = pa.schema(
        [("doc_id", pa.string()), ("parent", pa.int32()), ("n", pa.int64()),
         ("texts", pa.list_(pa.string())), ("payload", pa.binary())]
    )
    seen = []

    def row(doc_id, payload):
        seen.append(payload)
        return {
            "payload": [payload],
            "texts": [[]],
            "n": range(1),
            "parent": np.asarray([-1], dtype=np.int64),
        }

    batch = pa.RecordBatch.from_pydict(
        {"doc_id": ["d0", "d1"], "payload": pa.array([b"\x00x", None])}
    )
    (out,) = _batch_fn(row, ("doc_id", "payload"), schema, key="doc_id")(
        iter([batch])
    )
    assert seen == [b"\x00x", None]
    assert out.schema == schema
    assert out.to_pydict() == {
        "doc_id": ["d0", "d1"],
        "parent": [-1, -1],
        "n": [0, 0],
        "texts": [[], []],
        "payload": [b"\x00x", None],
    }


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_worker_setup_invalidates_zips_lazily(tmp_path, monkeypatch):
    """After the install, ``importlib.invalidate_caches()`` reads no zip
    directory; a zip put on ``sys.path`` afterwards imports; a zip
    rewritten in place shows its new contents after invalidation, at the
    cost of one directory read on the next lookup (CPython 3.12
    semantics). The install is process-wide, as in a worker."""
    _worker_setup()
    name = f"zipmod_{uuid.uuid4().hex}"
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {name: "V = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module(name).V == 1

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {name: "V = 2\n", f"{name}_new": "W = 3\n"})
        importlib.invalidate_caches()
        del sys.modules[name]
        assert importlib.import_module(name).V == 2
        assert importlib.import_module(f"{name}_new").W == 3
        assert reads.count(str(archive)) == 1
    finally:
        for mod in (name, f"{name}_new"):
            sys.modules.pop(mod, None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_worker_setup_is_idempotent_and_version_gated(monkeypatch):
    """A second install changes nothing; where the interpreter already
    invalidates lazily (3.12+), the installer touches no zipimporter."""
    _worker_setup()
    cls = zipimport.zipimporter
    installed = dict(vars(cls))
    _worker_setup()
    assert dict(vars(cls)) == installed
    assert sys.meta_path.count(session._FreezeAtTaskStart) == 1
    backported = cls.invalidate_caches is session._invalidate_zip
    assert backported != session._LAZY_ZIP_INVALIDATION

    stand_in = type("zipimporter", (), {"invalidate_caches": lambda self: None})
    untouched = dict(vars(stand_in))
    monkeypatch.setattr(zipimport, "zipimporter", stand_in)
    monkeypatch.setattr(session, "_LAZY_ZIP_INVALIDATION", True)
    _worker_setup()
    assert dict(vars(stand_in)) == untouched


def test_worker_setup_freezes_at_each_task_start():
    """The first call freezes the heap and installs the task-start hook:
    each ``importlib.invalidate_caches()`` (pyspark's worker calls it at
    every task start) freezes what was made since. A later call inside a
    task freezes nothing, so a cycle alive then (pyspark's per-task
    Arrow converters in a ``pandas_udf``) is still collected once it is
    garbage, as is a cycle made after a freeze."""

    class Node:
        pass

    _worker_setup()
    frozen = gc.get_freeze_count()
    assert frozen > 0
    held = [[] for _ in range(100)]
    importlib.invalidate_caches()
    assert gc.get_freeze_count() >= frozen + len(held)

    for setup_again in (True, False):
        a, b = Node(), Node()
        a.peer, b.peer = b, a
        dead = weakref.ref(a)
        if setup_again:
            _worker_setup()
        del a, b
        gc.collect()
        assert dead() is None


def test_batch_map_task_runs_frozen(spark):
    """A ``_batch_map`` row function runs on a frozen worker heap: the
    kernel freezes it at the start of that same task, on any CPython."""
    from parse_html_spark.session import _batch_map

    def row(_i):
        return {"frozen": [gc.get_freeze_count()]}

    df = spark.range(4).selectExpr("cast(id as string) as i")
    got = _batch_map(df, row, "frozen long", ("i",)).collect()
    assert len(got) == 4
    assert all(r["frozen"] > 0 for r in got)


@pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zip invalidation is lazy upstream"
)
def test_batch_map_task_runs_backported(spark):
    """A ``_batch_map`` row function sees the backport: the kernel
    installs it at the start of that same task."""
    from parse_html_spark.session import _batch_map

    def row(_i):
        fn = zipimport.zipimporter.invalidate_caches
        return {"installer": [f"{fn.__module__}.{fn.__qualname__}"]}

    df = spark.range(4).selectExpr("cast(id as string) as i")
    got = _batch_map(df, row, "installer string", ("i",)).collect()
    assert {r["installer"] for r in got} == {
        "parse_html_spark.session._invalidate_zip"
    }


# Spark APIs that run a Python function in a worker task.
_WORKER_APIS = {
    "mapInPandas", "mapInArrow", "applyInPandas", "applyInPandasWithState",
    "pandas_udf", "udf", "mapPartitions", "foreachPartition",
}


def _api_name(func) -> str | None:
    if isinstance(func, ast.Attribute):
        return func.attr
    if isinstance(func, ast.Name):
        return func.id
    return None


def _worker_entry_points(tree):
    """(name, FunctionDef or None) of every function the module hands to
    a worker API, by argument or as a decorator. A name resolves to the
    innermost enclosing def of that name; a call ``make(...)`` resolves
    to the nested def ``make`` returns; a variable bound to such a call
    resolves through it; anything else (a lambda) is None."""
    scopes = {}  # node -> enclosing function defs, innermost last
    bound = {}  # scope (def or module) -> {name: FunctionDef or Call}

    def index(node, stack):
        for child in ast.iter_child_nodes(node):
            scopes[child] = stack
            names = bound.setdefault(stack[-1] if stack else tree, {})
            if isinstance(child, ast.FunctionDef):
                names[child.name] = child
                index(child, stack + [child])
                continue
            if isinstance(child, ast.Assign) and isinstance(child.value, ast.Call):
                for target in child.targets:
                    if isinstance(target, ast.Name):
                        names[target.id] = child.value
            index(child, stack)

    index(tree, [])

    def lookup(name, stack):
        for depth in range(len(stack), -1, -1):
            scope = stack[depth - 1] if depth else tree
            found = bound.get(scope, {}).get(name)
            if isinstance(found, ast.Call):
                return resolve(found, stack[:depth])
            if found is not None:
                return found
        return None

    def resolve(arg, stack):
        if isinstance(arg, ast.Name):
            return lookup(arg.id, stack)
        if isinstance(arg, ast.Call) and isinstance(arg.func, ast.Name):
            maker = lookup(arg.func.id, stack)
            if maker is None:
                return None
            returned = [
                stmt.value.id
                for stmt in maker.body
                if isinstance(stmt, ast.Return)
                and isinstance(stmt.value, ast.Name)
            ]
            if len(returned) == 1:
                return lookup(returned[0], scopes[maker] + [maker])
        return None

    decorators = {
        id(d)
        for node in ast.walk(tree)
        if isinstance(node, ast.FunctionDef)
        for d in node.decorator_list
    }
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and id(node) not in decorators
            and _api_name(node.func) in _WORKER_APIS
            and node.args
        ):
            fn = resolve(node.args[0], scopes[node])
            yield (ast.unparse(node.args[0]), fn)
        if isinstance(node, ast.FunctionDef) and any(
            # @udf and @pandas_udf("long")
            _api_name(d.func if isinstance(d, ast.Call) else d) in _WORKER_APIS
            for d in node.decorator_list
        ):
            yield (node.name, node)


def _calls_installer_first(fn) -> bool:
    body = fn.body[1:] if ast.get_docstring(fn) is not None else fn.body
    first = body[0] if body else None
    return (
        isinstance(first, ast.Expr)
        and isinstance(first.value, ast.Call)
        and _api_name(first.value.func) == "_worker_setup"
    )


def _unguarded(source: str) -> list[str]:
    return [
        name
        for name, fn in _worker_entry_points(ast.parse(source))
        if fn is None or not _calls_installer_first(fn)
    ]


def test_entry_point_guard_flags_a_missing_install():
    """The guard below catches a worker function that skips the
    installer, whichever way the function reaches the API."""
    source = """
def good(df):
    def run(batches):
        _worker_setup()
        yield from batches
    return df.mapInPandas(run, "x int")

def _maker():
    def fn(key, it, state):
        return iter(())
    return fn

def bad(df, s):
    def f(x):
        \"\"\"no install\"\"\"
        return x
    pandas_udf(f, "long")
    df.mapInPandas(lambda it: it, "x int")
    held = _maker()
    df.groupBy("k").applyInPandasWithState(held, "x int", "s int", "append", "n")

@pandas_udf("long")
def decorated(s):
    return s
"""
    assert sorted(_unguarded(source)) == [
        "decorated", "f", "held", "lambda it: it"
    ]


def test_every_worker_entry_point_installs_first():
    """Every Python function the package passes to a worker API calls
    ``_worker_setup()`` as its first statement (``_batch_map`` stages
    through ``_batch_fn``'s ``run``), so a new stage cannot silently
    pay the per-task zip re-read, nor a daemon collection over the
    whole unfrozen worker heap after each task."""
    pkg = pathlib.Path(parse_html_spark.__file__).parent
    found, missing = [], []
    for path in sorted(pkg.rglob("*.py")):
        for name, fn in _worker_entry_points(ast.parse(path.read_text())):
            where = f"{path.relative_to(pkg)}:{name}"
            found.append(where)
            if fn is None or not _calls_installer_first(fn):
                missing.append(where)
    assert missing == []
    # the known entry points are all seen: the guard is not vacuous
    assert {
        "session.py:_batch_fn(row, inputs, pa_schema, key, size)",
        "functions/dedup.py:_sig",
        "functions/dedup.py:_batch",
        "functions/similarity.py:f",
        "functions/similarity.py:partials",
        "streaming.py:first_seen",
        "streaming.py:bucket_fn",
    } <= set(found)
    assert found.count("functions/similarity.py:f") == 2
