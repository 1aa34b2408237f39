"""The batch-id store layout is decided in one module: every dynamic
partition overwrite and every Hadoop ``FileSystem`` handle in the
package goes through ``streaming/compaction.py``."""

from __future__ import annotations

import pathlib

import eventstream_fanout_spark

PACKAGE = pathlib.Path(eventstream_fanout_spark.__file__).parent
LAYOUT_MODULE = PACKAGE / "streaming" / "compaction.py"


def test_only_compaction_sets_overwrite_mode_or_opens_filesystems():
    offenders = [
        f"{src.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for src in sorted(PACKAGE.rglob("*.py"))
        if src != LAYOUT_MODULE
        for n, line in enumerate(src.read_text().splitlines(), 1)
        if "partitionOverwriteMode" in line or "getFileSystem" in line
    ]
    assert not offenders, "\n".join(offenders)
