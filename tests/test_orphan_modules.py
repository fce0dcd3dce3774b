"""Every module in ``dqc_spark/`` must be reachable from the library's
entry points, so code that no caller needs cannot linger.

The walk follows static imports only (module-level and function-local,
absolute ``dqc_spark.x`` and relative ``.x`` forms), starting from the
package ``__init__``, the CLI and the streaming entry.  Two modules are
reached from outside the package on purpose: ``entry_ext`` (the driver
contract's query bodies, imported by ``__spark_entry__.py``) and
``pipeline_oracle`` (the pure-Python reference the tests and perfbench
compare against).
"""

from __future__ import annotations

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "dqc_spark")
ROOTS = ("__init__", "cli", "streaming")
EXEMPT = {"entry_ext", "pipeline_oracle"}


def _imported_modules(name: str, modules: set[str]) -> set[str]:
    """The ``dqc_spark`` modules that module ``name`` imports anywhere."""
    with open(os.path.join(PKG, f"{name}.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    out: set[str] = set()

    def add(dotted: str) -> None:
        head = dotted.split(".")[0]
        if head in modules:
            out.add(head)

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("dqc_spark."):
                    add(alias.name[len("dqc_spark."):])
        elif isinstance(node, ast.ImportFrom):
            mod = node.module or ""
            if node.level == 0 and mod.startswith("dqc_spark."):
                add(mod[len("dqc_spark."):])
            elif node.level == 1 and mod:
                add(mod)
            elif (node.level, mod) in ((0, "dqc_spark"), (1, "")):
                # from dqc_spark import x / from . import x
                for alias in node.names:
                    add(alias.name)
    return out


def test_every_module_is_reached_from_an_entry_point():
    modules = {f[:-3] for f in os.listdir(PKG) if f.endswith(".py")}
    seen: set[str] = set()
    todo = [r for r in ROOTS if r in modules]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imported_modules(name, modules) - seen)
    orphans = sorted(modules - seen - EXEMPT)
    assert not orphans, (
        f"modules no entry point imports (delete them, or wire them into "
        f"a caller): {orphans}")
