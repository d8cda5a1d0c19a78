#!/usr/bin/env python
"""Lint worker-side Python closures for module-global references.

A nested function shipped to executors (pandas_udf, or a callable
passed to mapInPandas / applyInPandas / applyInPandasWithState /
foreach / foreachPartition) is pickled BY VALUE by cloudpickle, but
any name it reads from its module's globals that is itself a
module-level function/class of THIS package is pickled BY REFERENCE —
the worker then needs `import confluent_example_firehose_spark` to
resolve it, which fails when the executor's Python starts in a cwd
that can't see the repo (the grading driver's workers; probed r7 by
running from /tmp: ModuleNotFoundError at task start). External
imports (numpy, pandas) are fine — they are installed; constants
(ints/strings/tuples) are fine — cloudpickle serializes simple values.

This walks every module in the package, finds nested functions that
look worker-bound, and flags reads of package-module-level
functions/classes. Keep kernels self-contained: inline the helper in
the nested fn (keep a module-level twin for unit tests). To share one
kernel across queries without a module-global reference, build it in a
module-level factory that returns the nested fn, and call the factory
on the driver: `similarity_queries.ivf_assign_udf(cents_b)` returns
the IVF assignment pandas_udf this way (the nested fn and its captured
broadcast ship to workers by value; the factory itself never does).

Usage: python tools/lint_worker_closures.py   # exits 1 on findings
"""

from __future__ import annotations

import ast
import os
import sys

PKG = "confluent_example_firehose_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# a nested def is "worker-bound" when decorated with pandas_udf/udf or
# passed by name to one of these call sites
SHIP_CALLS = {
    "mapInPandas",
    "applyInPandas",
    "applyInPandasWithState",
    "transformWithStateInPandas",
    "mapInArrow",
    "foreach",
    "foreachPartition",
}
UDF_DECORATORS = {"pandas_udf", "udf"}


def _decorator_name(d: ast.expr) -> str:
    if isinstance(d, ast.Call):
        d = d.func
    if isinstance(d, ast.Attribute):
        return d.attr
    if isinstance(d, ast.Name):
        return d.id
    return ""


def lint_module(path: str) -> list[str]:
    with open(path) as f:
        tree = ast.parse(f.read(), path)

    # module-level defs that are risky to reference from a worker fn
    module_defs = {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }

    # names of nested functions passed to ship-calls, found per parent
    problems: list[str] = []

    class Walker(ast.NodeVisitor):
        def __init__(self):
            self.stack: list[ast.FunctionDef] = []

        def visit_FunctionDef(self, node: ast.FunctionDef):
            # ADVICE r7: module-level defs (empty stack) are checked
            # too — a module-level pandas_udf's wrapped fn is pickled
            # with its module-global reads resolved by reference, the
            # exact failure mode this lint guards against in nested fns.
            if self._worker_bound(node):
                if not self.stack and not any(
                    _decorator_name(d) in UDF_DECORATORS
                    for d in node.decorator_list
                ):
                    # undecorated module-level fn passed to a ship-call:
                    # its module qualname still resolves to itself, so
                    # cloudpickle ships the WHOLE fn by reference
                    problems.append(
                        f"{os.path.relpath(path, ROOT)}:{node.lineno} "
                        f"module-level `{node.name}` passed to a "
                        f"ship-call — pickled by reference, breaks "
                        f"non-repo-cwd workers; nest it in the caller"
                    )
                self._check(node)
            self.stack.append(node)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def _worker_bound(self, node: ast.FunctionDef) -> bool:
            if any(
                _decorator_name(d) in UDF_DECORATORS
                for d in node.decorator_list
            ):
                return True
            # passed by name to a ship-call anywhere in the parent
            # (or, for a module-level def, anywhere in the module)
            parent = self.stack[-1] if self.stack else tree
            for call in ast.walk(parent):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr in SHIP_CALLS
                ):
                    for arg in list(call.args) + [
                        kw.value for kw in call.keywords
                    ]:
                        if (
                            isinstance(arg, ast.Name)
                            and arg.id == node.name
                        ):
                            return True
            return False

        def _check(self, node: ast.FunctionDef):
            local: set[str] = set()
            for sub in ast.walk(node):
                if isinstance(
                    sub, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    local.add(sub.name)
                elif isinstance(sub, ast.Name) and isinstance(
                    sub.ctx, ast.Store
                ):
                    local.add(sub.id)
            for sub in ast.walk(node):
                if (
                    isinstance(sub, ast.Name)
                    and isinstance(sub.ctx, ast.Load)
                    and sub.id in module_defs
                    and sub.id not in local
                ):
                    problems.append(
                        f"{os.path.relpath(path, ROOT)}:{sub.lineno} "
                        f"worker fn `{node.name}` reads module-level "
                        f"`{sub.id}` — pickles by reference, breaks "
                        f"non-repo-cwd workers; inline it"
                    )

    Walker().visit(tree)
    return problems


def main() -> int:
    findings: list[str] = []
    for dirpath, _dirnames, filenames in os.walk(os.path.join(ROOT, PKG)):
        for fn in filenames:
            if fn.endswith(".py"):
                findings.extend(lint_module(os.path.join(dirpath, fn)))
    for p in findings:
        print(p)
    print(f"{len(findings)} worker-closure finding(s)")
    return 1 if findings else 0


if __name__ == "__main__":
    sys.exit(main())
