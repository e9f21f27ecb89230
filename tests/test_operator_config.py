"""Operators take no configuration from the process environment: their
caps are module constants (the driver-tier caps live in ``localrel``), so
a result never depends on which shell ran the query."""

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
