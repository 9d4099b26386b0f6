"""Every ``tools/<name>.py`` that code, comments, error messages or tests
name must exist — a user sent to a deleted tool hits a dead end."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
_TOOL_REF = re.compile(r"\btools/(\w+\.py)\b")


def test_referenced_tools_exist():
    missing = []
    for top in ("join_example_spark", "tools", "tests"):
        for path in sorted((ROOT / top).rglob("*.py")):
            for lineno, line in enumerate(path.read_text().splitlines(), 1):
                for name in _TOOL_REF.findall(line):
                    if not (ROOT / "tools" / name).is_file():
                        missing.append(f"{path.relative_to(ROOT)}:{lineno}: tools/{name}")
    assert not missing, missing
