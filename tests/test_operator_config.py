"""Operators take no configuration from the process environment: their
caps are module constants (the driver-tier caps live in ``localrel``), so
a result never depends on which shell ran the query. Nor do they take an
execution strategy as an argument: size-adaptive routing reads those
constants, so no operator parameter defaults to ``"auto"``."""

import ast
import pathlib

import monster_etl_spark.operators as operators

_ENV_NAMES = {"environ", "environb", "getenv", "getenvb"}


def _env_reads(path: pathlib.Path) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr in _ENV_NAMES:
            lines.append(node.lineno)
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            if any(a.name in _ENV_NAMES for a in node.names):
                lines.append(node.lineno)
    return lines


def test_operators_read_no_environment():
    root = pathlib.Path(operators.__file__).parent
    found = {
        f"{p.relative_to(root)}:{ln}"
        for p in sorted(root.rglob("*.py"))
        for ln in _env_reads(p)
    }
    assert not found, f"operators read os.environ: {sorted(found)}"


def _auto_defaults(path: pathlib.Path) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        pairs = list(zip(positional[len(positional) - len(a.defaults):], a.defaults))
        pairs += [(arg, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        name = getattr(node, "name", "<lambda>")
        found += [
            f"{name}({arg.arg}):{d.lineno}"
            for arg, d in pairs
            if isinstance(d, ast.Constant) and d.value == "auto"
        ]
    return found


def test_operators_take_no_auto_strategy_knobs():
    root = pathlib.Path(operators.__file__).parent
    found = {
        f"{p.relative_to(root)}:{hit}"
        for p in sorted(root.rglob("*.py"))
        for hit in _auto_defaults(p)
    }
    assert not found, f"operator parameters default to 'auto': {sorted(found)}"
