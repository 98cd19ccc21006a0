"""Static checks on the package and the scripts around it.

No test runs the scripts (the tools, the frozen benchmark
``perfbench/``, the stage benchmark, the Spark job and the frozen
harness entry points), so a name deleted from the
package would break them silently.  This parses each one with ``ast``
and checks that every ``perl_html5_dom_spark`` name it imports, and
every ``alias.attr`` it reads from an imported package module, still
exists.

The package itself is checked to keep one entry per Spark batch API:
only ``util.map_in_arrow`` calls ``mapInArrow``, only
``util.scalar_udf`` calls ``arrow_udf``, and nothing uses
``mapInPandas`` or ``pandas_udf``, so every task of every kernel and
every batch of every SQL function gets the same per-task setup.  And
one per-batch core: only ``util.per_distinct`` calls ``to_pylist``, and
its callers are the runner, the UDF entry and the two dedup signature
kernels, so every Python batch meets its distinct-payload memo.  And
no package module calls a pyarrow constructor that converts Python
values through pyarrow's pandas shim (``pa.array`` and its kin import
pandas into the worker on first use): the runner builds its columns
from buffers (``util.arrow_column``).
"""

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
PKG = "perl_html5_dom_spark"
SCRIPTS = sorted(
    [*ROOT.glob("tools/*.py"), *ROOT.glob("perfbench/*.py")]
    + [ROOT / f for f in ("bench_extra.py", "spark_job.py", "bench.py",
                          "__spark_entry__.py")])


def _is_module(name: str) -> bool:
    try:
        importlib.import_module(name)
    except ModuleNotFoundError:
        return False
    return True


def _dangling(path: Path) -> list[str]:
    """Imported package names and ``alias.attr`` reads that do not
    resolve, as ``line: dotted.name`` strings."""
    tree = ast.parse(path.read_text(), str(path))
    aliases: dict[str, set[str]] = {}   # local name -> package modules
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                if not _is_module(a.name):
                    missing.append(f"{node.lineno}: {a.name}")
                elif a.asname:
                    aliases.setdefault(a.asname, set()).add(a.name)
        elif isinstance(node, ast.ImportFrom) and node.module and (
                node.module.split(".")[0] == PKG):
            if not _is_module(node.module):
                missing.append(f"{node.lineno}: {node.module}")
                continue
            mod = importlib.import_module(node.module)
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if _is_module(full):
                    aliases.setdefault(a.asname or a.name, set()).add(full)
                elif not hasattr(mod, a.name):
                    missing.append(f"{node.lineno}: {full}")
    for node in ast.walk(tree):
        if (isinstance(node, ast.Attribute)
                and isinstance(node.value, ast.Name)
                and node.value.id in aliases):
            mods = aliases[node.value.id]
            if not any(hasattr(importlib.import_module(m), node.attr)
                       for m in mods):
                missing.append(
                    f"{node.lineno}: {'|'.join(sorted(mods))}.{node.attr}")
    return missing


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_references_resolve(path):
    assert _dangling(path) == []


def test_dangling_reference_is_caught(tmp_path):
    script = tmp_path / "probe.py"
    script.write_text(
        "from perl_html5_dom_spark.operators import dedup\n"
        "from perl_html5_dom_spark.util import checkpoint_parquet, gone\n"
        "from perl_html5_dom_spark.no_such_module import x\n"
        "dedup._doc_minhash_sets\n"
        "dedup._no_such_kernel\n")
    assert _dangling(script) == [
        "2: perl_html5_dom_spark.util.gone",
        "3: perl_html5_dom_spark.no_such_module",
        "5: perl_html5_dom_spark.operators.dedup._no_such_kernel"]


#: the only function allowed to call ``mapInArrow``: the entry that the
#: per-row runner and the two dedup signature kernels go through (all
#: three on ``util.per_distinct``, pinned below)
MAP_IN_ARROW_CALLERS = {"util.map_in_arrow"}

#: the callers of the one per-batch core, ``util.per_distinct``
PER_DISTINCT_CALLERS = ["operators.dedup._doc_minhash_sets",
                        "operators.dedup.simhash",
                        "util.map_documents", "util.scalar_udf"]


def _map_callers(pkg: Path, name: str) -> list[str]:
    """``module.function`` of every use of ``name`` under ``pkg``: an
    ``x.name`` attribute, a bare ``name`` (a call, a decorator with or
    without arguments) or an import of it under another name; each
    named by the enclosing top-level function (``<module>`` outside
    one)."""
    found = []
    for path in sorted(pkg.rglob("*.py")):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        for top in tree.body:
            where = (top.name if isinstance(
                top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                else "<module>")
            found += [f"{mod}.{where}" for node in ast.walk(top)
                      if isinstance(node, ast.Attribute) and node.attr == name
                      or isinstance(node, ast.Name) and node.id == name
                      or isinstance(node, ast.alias) and node.name == name
                      and node.asname not in (None, name)]
    return found


def test_one_per_row_runner():
    """One ``mapInArrow`` entry and one ``arrow_udf`` entry, both in
    ``util`` and both running the per-task setup; no pandas batch API;
    and one per-batch core: every Python batch becomes Python values in
    ``util.per_distinct`` only, and each caller calls it once."""
    pkg = ROOT / PKG
    assert sorted(_map_callers(pkg, "mapInArrow")) == sorted(
        MAP_IN_ARROW_CALLERS)
    assert _map_callers(pkg, "arrow_udf") == ["util.scalar_udf"]
    assert _map_callers(pkg, "mapInPandas") == []
    assert _map_callers(pkg, "pandas_udf") == []
    assert _map_callers(pkg, "to_pylist") == ["util.per_distinct"]
    assert sorted(_map_callers(pkg, "per_distinct")) == PER_DISTINCT_CALLERS


def test_map_caller_is_caught(tmp_path):
    (tmp_path / "ops").mkdir()
    (tmp_path / "ops" / "k.py").write_text(
        "from pyspark.sql.functions import pandas_udf\n"
        "from pyspark.sql.functions import pandas_udf as pu\n"
        "def kernel(df):\n"
        "    return df.mapInArrow(run, schema='x long')\n"
        "df.mapInPandas(run, schema='x long')\n"
        "def udfs():\n"
        "    f = pandas_udf(g, 'long')\n"
        "    @pandas_udf('string')\n"
        "    def h(s):\n"
        "        return s\n"
        "@pandas_udf\n"
        "def top(s):\n"
        "    return s\n"
        "def memo(batch):\n"
        "    return batch.column('x').to_pylist()\n")
    assert _map_callers(tmp_path, "mapInArrow") == ["ops.k.kernel"]
    assert _map_callers(tmp_path, "mapInPandas") == ["ops.k.<module>"]
    assert sorted(_map_callers(tmp_path, "pandas_udf")) == [
        "ops.k.<module>", "ops.k.top", "ops.k.udfs", "ops.k.udfs"]
    assert _map_callers(tmp_path, "to_pylist") == ["ops.k.memo"]


#: pyarrow functions that convert Python values through pyarrow's pandas
#: shim, which imports pandas on first use: called through a name bound
#: to ``pyarrow`` (any alias) or imported from it by name ...
SHIM_FUNCTIONS = {"array", "chunked_array", "scalar", "table",
                  "record_batch"}
#: ... and the class methods that do the same, on whatever object
SHIM_METHODS = {"from_pylist", "from_pydict", "from_pandas"}


def _shim_calls(pkg: Path) -> list[str]:
    """``module:line`` of every call under ``pkg`` of a pyarrow function
    that converts Python values through the pandas shim."""
    found = []
    for path in sorted(pkg.rglob("*.py")):
        mod = ".".join(path.relative_to(pkg).with_suffix("").parts)
        tree = ast.parse(path.read_text(), str(path))
        modules, functions = set(), set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name == "pyarrow" or (a.name.startswith("pyarrow.")
                                               and a.asname is None):
                        modules.add(a.asname or "pyarrow")
            elif isinstance(node, ast.ImportFrom) and node.module == "pyarrow":
                functions |= {a.asname or a.name for a in node.names
                              if a.name in SHIM_FUNCTIONS}
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if (isinstance(f, ast.Attribute) and (
                    f.attr in SHIM_METHODS
                    or f.attr in SHIM_FUNCTIONS
                    and isinstance(f.value, ast.Name)
                    and f.value.id in modules)
                    or isinstance(f, ast.Name) and f.id in functions):
                found.append(f"{mod}:{node.lineno}")
    return found


def test_no_pandas_shim_constructor():
    """The runner, the UDF entry and the signature kernels build their
    Arrow arrays from buffers, so no Spark Python worker imports pandas
    for them."""
    assert _shim_calls(ROOT / PKG) == []


def test_shim_constructor_is_caught(tmp_path):
    (tmp_path / "ops").mkdir()
    (tmp_path / "ops" / "k.py").write_text(
        "import numpy as np\n"
        "import pyarrow as pa\n"
        "import pyarrow.compute as pc\n"
        "def kernel(batch):\n"
        "    import pyarrow as arrow\n"
        "    from pyarrow import record_batch as rb, field\n"
        "    pa.array([1])\n"
        "    np.array([1])\n"
        "    arrow.table({'x': [1]})\n"
        "    pa.Table.from_pylist([{'x': 1}])\n"
        "    rb([pc.add(1, 2)], names=['x'])\n"
        "    field('x', pa.int64())\n"
        "    pa.Array.from_buffers(pa.int64(), 0, [None, None])\n")
    (tmp_path / "ops" / "m.py").write_text(
        "import pyarrow.parquet\n"
        "pyarrow.chunked_array([[1]])\n")
    assert _shim_calls(tmp_path) == ["ops.k:7", "ops.k:9", "ops.k:10",
                                     "ops.k:11", "ops.m:2"]
