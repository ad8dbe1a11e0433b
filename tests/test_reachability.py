"""Every library definition is reached, and the package reads a pinned
set of environment knobs.

A source scan over ``tinybrain_spark/``. A top-level function, class,
method or module constant is reached when its name is referenced from
a root: the module-level statements of every package module (the
registry table among them), or anything in ``jobs/``, ``perfbench/``,
``tools/``, ``bench.py``, ``bench_extra.py`` and ``__spark_entry__.py``.
A reached definition's body is scanned in turn; a def's decorators and
defaults and a constant's value belong to the definition, since only
it uses them. A reference is a ``Name`` load, an ``Attribute``, an
import alias, or an identifier-like string constant (``getattr``
lookups, ``tracer.wrap(module, "name")``). A dunder method is reached
with its class.

Names are matched without their module, so a definition that shares a
name with live code stays live: the scan can miss dead code, never
report live code. Tests are not roots; a definition only tests call is
deleted with its tests.
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "tinybrain_spark"
ROOTS = ("jobs", "perfbench", "tools", "bench.py", "bench_extra.py",
         "__spark_entry__.py")

# definition -> why it stays without a caller
ALLOWED_UNREACHED = {
    "kernels.avg_pool_2d": "reference parity: test_reference_parity.py "
                           "and test_kernels_golden.py check it against "
                           "the reference's 2-D average pooling",
}

# every SPARK_GRAFT_* environment variable the package reads
KNOBS = {
    "SPARK_GRAFT_CPUS",  # deployment: cores for local[n]
    "SPARK_GRAFT_DRIVER_MEM",  # deployment: driver heap
    "SPARK_GRAFT_MAX_PARTITION_BYTES",  # set by jobs/scalebench.py
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module(path):
    return ".".join(path.relative_to(PACKAGE).with_suffix("").parts)


def _root_files():
    for root in ROOTS:
        p = REPO / root
        yield from sorted(p.rglob("*.py")) if p.is_dir() else [p]


def _names(nodes):
    """Every name the nodes reference."""
    out = set()
    for top in nodes:
        for n in ast.walk(top):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.update(n.name.split("."))
            elif isinstance(n, ast.ImportFrom) and n.module:
                out.update(n.module.split("."))
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                if _IDENT.fullmatch(n.value):
                    out.add(n.value)
    return out


def _constants(stmt):
    """The names a module-level ``X = ...`` statement defines, or []."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    if all(isinstance(t, ast.Name) and t.id != "__all__" for t in targets):
        return [t.id for t in targets]
    return []


def _scan():
    """(definitions, reached names): definitions map
    ``module.qualname`` to (simple name, nodes scanned once it is
    reached)."""
    defs, roots = {}, []
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = _module(path)
        for stmt in ast.parse(path.read_text(), filename=str(path)).body:
            if isinstance(stmt, ast.ClassDef):
                defs[f"{mod}.{stmt.name}"] = (stmt.name, [
                    s for s in stmt.body if not isinstance(s, _DEFS)
                ] + stmt.decorator_list + stmt.bases + stmt.keywords)
                for m in stmt.body:
                    if isinstance(m, _DEFS):
                        # dunders run implicitly once the class is used
                        name = stmt.name if m.name.startswith("__") else m.name
                        defs[f"{mod}.{stmt.name}.{m.name}"] = (name, [m])
            elif isinstance(stmt, _DEFS):
                defs[f"{mod}.{stmt.name}"] = (stmt.name, [stmt])
            elif names := _constants(stmt):
                for name in names:
                    defs[f"{mod}.{name}"] = (name, [stmt])
            else:
                roots.append(stmt)
    for path in _root_files():
        roots.append(ast.parse(path.read_text(), filename=str(path)))

    reached = _names(roots)
    pending = dict(defs)
    while True:
        newly = [k for k, (name, _) in pending.items() if name in reached]
        if not newly:
            return defs, reached
        for k in newly:
            reached |= _names(pending.pop(k)[1])


def test_every_definition_is_reached():
    defs, reached = _scan()
    unreached = sorted(k for k, (name, _) in defs.items()
                       if name not in reached)
    assert unreached == sorted(ALLOWED_UNREACHED), (
        "unreached definitions (delete them with their tests, call them "
        "from a root, or allowlist them with a reason): "
        f"{sorted(set(unreached) - set(ALLOWED_UNREACHED))}; "
        f"allowlisted but reached or gone: "
        f"{sorted(set(ALLOWED_UNREACHED) - set(unreached))}"
    )


def test_package_reads_the_pinned_knobs():
    read = set()
    for path in PACKAGE.rglob("*.py"):
        for n in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (isinstance(n, ast.Constant) and isinstance(n.value, str)
                    and re.fullmatch(r"SPARK_GRAFT_[A-Z0-9_]+", n.value)):
                read.add(n.value)
    assert read == KNOBS, (
        f"new knobs: {sorted(read - KNOBS)}; gone: {sorted(KNOBS - read)}"
    )
