"""Every script under tools/ is either used — imported or run by tests/,
bench.py or perfbench/ — or listed in README.md's "Tools" section, so
one-off scripts cannot pile up unnoticed."""

from __future__ import annotations

import glob
import os
import re

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _readme_tools() -> set[str]:
    with open(os.path.join(_REPO_ROOT, "README.md")) as f:
        text = f.read()
    section = re.search(r"^## Tools\n(.*?)(?=^## |\Z)", text, re.M | re.S)
    return set(re.findall(r"`tools/(\w+)\.py`", section.group(1) if section else ""))


def _user_sources() -> str:
    paths = [os.path.join(_REPO_ROOT, "bench.py")]
    for pattern in ("tests/**/*.py", "perfbench/**/*.py"):
        paths += glob.glob(os.path.join(_REPO_ROOT, pattern), recursive=True)
    here = os.path.abspath(__file__)
    texts = []
    for p in paths:
        if os.path.abspath(p) != here:
            with open(p) as f:
                texts.append(f.read())
    return "\n".join(texts)


def test_every_tool_is_used_or_listed():
    users, listed = _user_sources(), _readme_tools()
    tools = {
        os.path.basename(p)[:-3]
        for p in glob.glob(os.path.join(_REPO_ROOT, "tools", "*.py"))
    }
    unaccounted = sorted(
        f"tools/{stem}.py"
        for stem in tools - listed
        if not re.search(
            rf"\btools[./]{stem}\b|^\s*(?:from|import)\s+{stem}\b", users, re.M
        )
    )
    assert not unaccounted, (
        "unused tools: delete them, use them, or list them under README.md "
        f"'## Tools': {unaccounted}"
    )
    assert listed <= tools, f"README.md lists deleted tools: {listed - tools}"
