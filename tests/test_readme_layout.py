"""Every runnable script is documented: each ``scripts/*.py`` and each
top-level ``*.py`` must be named in README.md's layout block, so a
one-off script cannot land without a line saying what it is for."""

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent


def _layout_block() -> str:
    readme = (REPO / "README.md").read_text()
    m = re.search(r"## Layout\s*```(.*?)```", readme, re.S)
    assert m, "README.md has no fenced block under '## Layout'"
    return m.group(1)


def test_readme_layout_names_every_script():
    layout = _layout_block()
    scripts = [p.relative_to(REPO).as_posix() for p in REPO.glob("scripts/*.py")]
    scripts += [p.name for p in REPO.glob("*.py")]
    named = set(layout.split())
    missing = sorted(s for s in scripts if s not in named)
    assert not missing, f"scripts not named in README.md's layout block: {missing}"
