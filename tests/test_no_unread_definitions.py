"""One path per job: every top-level definition in the package has a reader
outside the tests.

A top-level ``def``, ``class`` or module-level assignment in the package
must be read, outside its own lines, by some Python file outside
``tests/``. A read is a name token in code, or a word inside a string
literal (``getattr`` targets, CLI names, query-name strings); comments and
docstrings are not reads. Names are matched by spelling, not resolved, so
the rule can miss dead code but never flags a definition that is read.

Needs no Spark: each file is tokenized once.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "squonk2_fastapi_ws_event_stream_spark"

# Read only by tests, kept on purpose (module stem, name): reason.
ALLOWED = {
    ("eventstream", "enforce_retention"): "the log's retention, which Q6's seek rules are specified against",
    ("plan_guard", "broadcast_hint_audit"): "a lint the tests run over every registered query",
    ("plan_guard", "ALLOWED_SEMANTIC"): "that lint's ledger of accepted exceptions",
    ("registry", "NON_SQL_QUERIES"): "the oracle-coverage contract test_registry_contract asserts",
}

_WORD = re.compile(r"[A-Za-z_]\w*")
_STATEMENT_END = {tokenize.NEWLINE, tokenize.ENDMARKER}
_STATEMENT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT}


def _reads(source: str) -> dict[str, set[int]]:
    """Each name read in ``source`` -> the lines it is read on. A string
    that is a statement on its own (a docstring) is not a read."""
    reads: dict[str, set[int]] = defaultdict(set)
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in (tokenize.NL, tokenize.COMMENT)
    ]
    for i, t in enumerate(toks):
        if t.type == tokenize.NAME:
            reads[t.string].add(t.start[0])
        elif t.type == tokenize.STRING:
            alone = (i == 0 or toks[i - 1].type in _STATEMENT_START) and (
                toks[i + 1].type in _STATEMENT_END
            )
            if not alone:
                for w in _WORD.findall(t.string):
                    reads[w].update(range(t.start[0], t.end[0] + 1))
    return reads


def _definitions(source: str) -> list[tuple[tuple[str, ...], int, int]]:
    """(names, first line, last line) of each top-level def, class and
    module-level assignment, decorators included. An unpacking assignment
    (a table such as the RFC 6455 opcodes) is one definition, read when
    any of its names is."""
    out = []
    for node in ast.parse(source).body:
        first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = (node.name,)
        elif isinstance(node, ast.Assign):
            names = tuple(n.id for t in node.targets for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = (node.target.id,)
        else:
            continue
        out.append((names, first, node.end_lineno))
    return out


def _unread() -> list[str]:
    readers = [
        p for p in ROOT.rglob("*.py")
        if not any(part == "tests" or part.startswith(".") for part in p.relative_to(ROOT).parts)
    ]
    reads_by_file = {p: _reads(p.read_text(encoding="utf-8")) for p in readers}
    unread, defined = [], set()
    for path in sorted(PACKAGE.rglob("*.py")):
        for names, first, last in _definitions(path.read_text(encoding="utf-8")):
            defined.update((path.stem, name) for name in names)
            if all(n.startswith("__") and n.endswith("__") for n in names):
                continue  # read by the interpreter (__all__, __version__)
            read = any(
                lines if p != path else any(n < first or n > last for n in lines)
                for name in names
                for p, file_reads in reads_by_file.items()
                if (lines := file_reads.get(name))
            )
            if not read and not any((path.stem, name) in ALLOWED for name in names):
                unread.append(f"{path.relative_to(ROOT)}:{first} {', '.join(names)}")
    # an allowlist entry whose definition is gone is stale
    return unread + [f"allowlisted but not defined: {m}.{n}" for m, n in sorted(set(ALLOWED) - defined)]


def test_every_package_definition_is_read_outside_the_tests():
    assert _unread() == []
