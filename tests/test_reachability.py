"""Every package module is reachable from a real surface.

The surfaces are the CLI (`__main__`), the query contract (`contract`), the
extraction operator (`operators.extract`) and the driver entry point
(`__spark_entry__`). A module that only its own tests import is dead code;
this walk over `import` / `from` statements (function-local ones included)
keeps such modules from accumulating."""

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "_intelligent_document_ai_for_field_extraction_from_invoices_spark"
ROOTS = ["__spark_entry__", f"{PKG}.__main__", f"{PKG}.contract",
         f"{PKG}.operators.extract"]


def _modules() -> dict[str, pathlib.Path]:
    mods = {"__spark_entry__": REPO / "__spark_entry__.py"}
    for path in (REPO / PKG).rglob("*.py"):
        parts = list(path.relative_to(REPO).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _imported(name: str, path: pathlib.Path, mods: dict) -> set[str]:
    """Package modules named by the import statements of one module,
    plus every parent package of each (importing a.b.c runs a and a.b)."""
    pkg = name if path.name == "__init__.py" else name.rpartition(".")[0]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                up = pkg.split(".")[:len(pkg.split(".")) - node.level + 1]
                base = ".".join(up + ([base] if base else []))
            names.add(base)
            # `from pkg import mod` names a submodule
            names.update(f"{base}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(p for p in (".".join(parts[:i])
                               for i in range(1, len(parts) + 1))
                   if p in mods)
    return out


def test_every_package_module_is_reachable_from_a_surface():
    mods = _modules()
    seen: set[str] = set()
    todo = list(ROOTS)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imported(name, mods[name], mods) - seen)
    assert sorted(set(mods) - seen) == []
