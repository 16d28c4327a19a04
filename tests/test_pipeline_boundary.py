"""The pipeline's import boundary, the single commit writer, and the
``__spark_entry__`` contract.

The ingest → staging → marts path must load without the query
registry: importing it registers nothing and pulls in no ``plans``
module, nor the table reader, catalog, index or manifest feature
modules, and the modules it does load stay within a line budget. The
manifest commit-log core imports none of its feature modules, and each
feature module imports on its own. Every commit
to a table log or the catalog chain goes through one function,
``manifest._publish``, the only put-if-absent caller. The registry side is checked here too: every
name in ``registry._PRIORITY`` is registered after ``load_all()``, and
``__spark_entry__.entry`` returns the ``daily_customer_billing`` frame.
"""

from __future__ import annotations

import ast
import functools
import glob
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PIPELINE_MODULES = [
    "session",
    "streaming.ingest_stream",
    "sources.ingest",
    "sources.manifest",
    "sources.txn",
    "operators.meter_pipeline",
]

# Features of the manifest table, each a module that imports the
# commit-log core (sources/manifest.py) and is never imported by it.
MANIFEST_FEATURE_MODULES = [
    "sources.manifest_cow",
    "sources.manifest_skipping",
    "sources.manifest_timetravel",
    "sources.manifest_services",
]

# The pipeline's closure: the lines of every package module that
# importing PIPELINE_MODULES loads. Growing it past this bound is a
# deliberate change: raise the bound and record why. Raised by the 126
# lines session.py gained to start the driver JVM from a class-data-
# sharing archive (the archive's build lives in cds_build, outside).
CLOSURE_MAX_LINES = 2462
CLOSURE_MAX_MODULES = 10

_PROBE = """
import importlib, json, sys
P = "smart_meter_data_pipeline_spark"
for m in sys.argv[1:]:
    importlib.import_module(f"{P}.{m}")
lines = {}
for n, mod in sys.modules.items():
    if n.startswith(P):
        with open(mod.__file__) as fh:
            lines[n] = sum(1 for _ in fh)
print(json.dumps(lines))
"""


@functools.lru_cache(maxsize=1)
def _closure() -> dict[str, int]:
    """{module name: line count} of every package module that
    importing the pipeline loads, from a fresh interpreter."""
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *PIPELINE_MODULES],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        check=True,
        timeout=300,
    )
    return json.loads(out.stdout.splitlines()[-1])


def test_pipeline_imports_load_no_registry():
    loaded = sorted(_closure())
    assert "smart_meter_data_pipeline_spark.operators.meter_pipeline" in loaded
    # no plans module means no registry, hence no registered query
    plans = [n for n in loaded if n.startswith("smart_meter_data_pipeline_spark.plans")]
    assert plans == []
    assert "smart_meter_data_pipeline_spark.operators.meter_queries" not in loaded
    # the two sinks need neither the batch table reader nor the catalog,
    # index and feature machinery that sits on top of the manifest table;
    # the session loads the archive builder only to build an archive
    for module in (
        "cds_build",
        "sources.readers",
        "sources.catalog",
        "sources.index",
        *MANIFEST_FEATURE_MODULES,
    ):
        assert f"smart_meter_data_pipeline_spark.{module}" not in loaded


def test_pipeline_closure_line_budget():
    lines = _closure()
    assert len(lines) <= CLOSURE_MAX_MODULES, sorted(lines)
    assert sum(lines.values()) <= CLOSURE_MAX_LINES, lines


def _package_imports(path: str, top_level_only: bool = False) -> set[str]:
    """The package modules ``path`` imports, relative to the package
    (``sources.txn``), lazy imports inside functions included unless
    ``top_level_only``."""
    package = "smart_meter_data_pipeline_spark"
    with open(path) as fh:
        tree = ast.parse(fh.read())
    nodes = tree.body if top_level_only else ast.walk(tree)
    out = set()
    for node in nodes:
        if isinstance(node, ast.ImportFrom) and node.module:
            if node.module == f"{package}.sources":
                out |= {f"sources.{a.name}" for a in node.names}
            elif node.module.startswith(f"{package}."):
                out.add(node.module[len(package) + 1 :])
        elif isinstance(node, ast.Import):
            out |= {
                a.name[len(package) + 1 :]
                for a in node.names
                if a.name.startswith(f"{package}.")
            }
    return out


def _module_path(module: str) -> str:
    return os.path.join(
        ROOT, "smart_meter_data_pipeline_spark", *module.split(".")
    ) + ".py"


def test_manifest_core_imports_no_feature_module():
    """The commit-log core imports, even lazily, only the flock helper
    and the constraint checks' expectation shapes."""
    imported = _package_imports(_module_path("sources.manifest"))
    assert imported <= {"sources.txn", "operators.expectations"}


def test_manifest_feature_modules_import_alone_without_cycles():
    """Each feature module imports in a fresh interpreter, and the
    module-level imports reachable from it form no cycle."""
    for module in MANIFEST_FEATURE_MODULES:
        subprocess.run(
            [
                sys.executable,
                "-c",
                f"import smart_meter_data_pipeline_spark.{module}",
            ],
            cwd=ROOT,
            env={**os.environ, "PYTHONPATH": ROOT},
            check=True,
            timeout=300,
        )

        def visit(mod: str, stack: tuple) -> None:
            assert mod not in stack, f"import cycle {stack + (mod,)}"
            path = _module_path(mod)
            if not os.path.exists(path):  # a package __init__
                return
            for dep in _package_imports(path, top_level_only=True):
                visit(dep, stack + (mod,))

        visit(module, ())


def _put_callers_and_commit_dicts() -> tuple[set, set]:
    """Under ``sources/``: the functions that call ``_put_if_absent``,
    and the functions that build a dict literal with a
    ``"committed_at"`` key, each as ``module:Class.function``."""
    callers, builders = set(), set()

    def visit(node, module, scope):
        for child in ast.iter_child_nodes(node):
            inner = scope
            if isinstance(
                child, (ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                inner = scope + [child.name]
            where = f"{module}:{'.'.join(inner)}"
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name == "_put_if_absent":
                    callers.add(where)
            if isinstance(child, ast.Dict) and any(
                isinstance(k, ast.Constant) and k.value == "committed_at"
                for k in child.keys
            ):
                builders.add(where)
            visit(child, module, inner)

    pattern = os.path.join(ROOT, "smart_meter_data_pipeline_spark", "sources", "*.py")
    for path in sorted(glob.glob(pattern)):
        with open(path) as fh:
            tree = ast.parse(fh.read())
        visit(tree, os.path.basename(path)[: -len(".py")], [])
    return callers, builders


def test_one_commit_writer():
    """Only the commit writer stamps commits, and it is the only
    caller of the put-if-absent primitive: nothing else under
    ``sources/`` claims a name in a log directory."""
    callers, builders = _put_callers_and_commit_dicts()
    assert callers == {"manifest:_publish"}
    assert builders == {"manifest:_publish"}


def test_every_priority_name_is_registered():
    from smart_meter_data_pipeline_spark.plans import registry

    registry.load_all()
    missing = [n for n in registry._PRIORITY if n not in registry.QUERIES]
    assert missing == []
    assert len(set(registry._PRIORITY)) == len(registry._PRIORITY)


def test_entry_returns_daily_customer_billing(spark, monkeypatch):
    import __spark_entry__
    from smart_meter_data_pipeline_spark.plans import registry

    registry.load_all()
    real = registry.QUERIES["daily_customer_billing"]
    returned = []

    def recording(spark_, sf_dir):
        returned.append(real(spark_, sf_dir))
        return returned[-1]

    monkeypatch.setitem(registry.QUERIES, "daily_customer_billing", recording)
    df = __spark_entry__.entry(spark)
    assert len(returned) == 1 and df is returned[0]
    assert df.count() > 0
