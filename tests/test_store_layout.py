"""Decisions made in one module only: every dynamic partition
overwrite and every Hadoop ``FileSystem`` handle in the package goes
through ``streaming/compaction.py``, and every lazy 0-row guard branch
through ``functions/guards.py``."""

from __future__ import annotations

import pathlib
import re

import eventstream_fanout_spark

PACKAGE = pathlib.Path(eventstream_fanout_spark.__file__).parent
LAYOUT_MODULE = PACKAGE / "streaming" / "compaction.py"
GUARD_MODULE = PACKAGE / "functions" / "guards.py"


def _offenders(allowed: pathlib.Path, hit) -> list[str]:
    return [
        f"{src.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for src in sorted(PACKAGE.rglob("*.py"))
        if src != allowed
        for n, line in enumerate(src.read_text().splitlines(), 1)
        if hit(line)
    ]


def test_only_compaction_sets_overwrite_mode_or_opens_filesystems():
    offenders = _offenders(
        LAYOUT_MODULE,
        lambda line: "partitionOverwriteMode" in line
        or "getFileSystem" in line,
    )
    assert not offenders, "\n".join(offenders)


def test_only_guards_module_builds_the_zero_row_guard_branch():
    """A hand-built ``.where(F.col("_a").isNotNull())`` branch is the
    shape whose outputs drift back to ``lit(None)`` casts, which a
    pushed ``isnotnull`` filter folds away — build it with
    ``guard_branch``."""
    hand_built = re.compile(r"""col\(\s*["']_a["']\s*\)\s*\.isNotNull\(\)""")
    offenders = _offenders(GUARD_MODULE, hand_built.search)
    assert not offenders, "\n".join(offenders)
