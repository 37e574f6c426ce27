"""No dead package surface: every top-level function, class and UPPER_CASE
constant defined in ``automem_spark/`` must be referenced somewhere besides
its own definition — in its own module or in any other ``.py`` file of the
package, ``__spark_entry__.py``, ``scripts/``, ``perfbench/`` or ``tests/``.

References are whole-word matches over the source with ``#`` comments
stripped (string literals count, so ``monkeypatch.setattr(mod, "NAME")``
and registry lookups by name are references). A symbol whose only
occurrence is its definition is unreferenced code: delete it, or give it a
caller.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "automem_spark"
SEARCHED = [PACKAGE, ROOT / "scripts", ROOT / "perfbench", ROOT / "tests"]


def _code_without_comments(path: Path) -> str:
    src = path.read_text()
    toks = tokenize.generate_tokens(io.StringIO(src).readline)
    return tokenize.untokenize(
        (t.type, "" if t.type == tokenize.COMMENT else t.string)
        for t in toks
    )


def _defined_names(tree: ast.Module) -> list[str]:
    names = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names += [
                t.id for t in targets if isinstance(t, ast.Name) and t.id.isupper()
            ]
    return names


def test_no_unreferenced_package_symbols():
    files = [p for d in SEARCHED for p in d.rglob("*.py")]
    files.append(ROOT / "__spark_entry__.py")
    code = {p: _code_without_comments(p) for p in files}
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for name in _defined_names(ast.parse(path.read_text())):
            word = re.compile(rf"\b{re.escape(name)}\b")
            if len(word.findall(code[path])) > 1:
                continue
            if not any(word.search(text) for p, text in code.items() if p != path):
                dead.append(f"{path.relative_to(ROOT)}::{name}")
    assert dead == [], f"unreferenced package symbols: {dead}"
