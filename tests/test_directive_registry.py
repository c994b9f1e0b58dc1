"""Registry contract: every registered directive's name, usage grammar,
filter flag, class name, docstring and bind-time error texts, checked
against a checked-in golden (``directive_registry_golden.json``).

Regenerate the golden only for an intended contract change:
``python -m tests.test_directive_registry --write``.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from wrangler_spark.directive import bind_arguments
from wrangler_spark.errors import DirectiveParseError
from wrangler_spark.parser.tokens import Token, TokenType
from wrangler_spark.registry import load_builtins, registry

GOLDEN = Path(__file__).with_name("directive_registry_golden.json")
REPO = Path(__file__).resolve().parent.parent

# one well-typed token per grammar slot type, to fill a full usage
_SAMPLE = {
    TokenType.COLUMN: "c",
    TokenType.COLUMN_LIST: ["c"],
    TokenType.TEXT: "t",
    TokenType.TEXT_LIST: ["t"],
    TokenType.NUMERIC: 1,
    TokenType.NUMERIC_LIST: [1],
    TokenType.BOOL: True,
    TokenType.EXPRESSION: "x",
    TokenType.PROPERTIES: {},
    TokenType.RANGES: [],
    TokenType.IDENTIFIER: "i",
}


def _bind_error(name: str, usage, tokens) -> str | None:
    try:
        bind_arguments(name, usage, tokens)
    except DirectiveParseError as e:
        return str(e)
    return None


def snapshot() -> list[dict]:
    load_builtins()
    out = []
    for name in registry.names():
        cls = registry.get(name)
        full = [Token(a.type, _SAMPLE[a.type]) for a in cls.usage]
        out.append({
            "name": cls.name,
            "class": cls.__name__,
            "doc": cls.__doc__,
            "is_filter": cls.is_filter,
            "usage": [f"{a.name} {a.type.value} "
                      f"{'optional' if a.optional else 'required'} {a.default!r}"
                      for a in cls.usage],
            "missing_error": _bind_error(name, cls.usage, []),
            "extra_error": _bind_error(
                name, cls.usage, full + [Token(TokenType.TEXT, "extra")]),
        })
    return out


def _dump(snap: list[dict]) -> str:
    return json.dumps(snap, indent=1, ensure_ascii=False) + "\n"


def test_registry_matches_golden():
    assert _dump(snapshot()) == GOLDEN.read_text(encoding="utf-8")


def test_registry_size():
    assert len(snapshot()) == 204


def test_importing_directives_loads_no_datapipe_module():
    code = (
        "import sys, wrangler_spark.directives\n"
        "print(sorted(m for m in sys.modules"
        " if m.startswith('wrangler_spark.datapipe')))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout
    assert out.strip() == "[]"


if __name__ == "__main__" and sys.argv[1:] == ["--write"]:
    GOLDEN.write_text(_dump(snapshot()), encoding="utf-8")
