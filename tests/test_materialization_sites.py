"""Every lineage cut in the shipped code goes through
`jirlbot_spark.session.materialize`, so the session's checkpoint
directory decides, in one place, where materialized frames live; no
`.cache()` pins a frame beside it. Static scan: no Spark session."""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SESSION = REPO / "jirlbot_spark" / "session.py"
CUT = re.compile(r"localCheckpoint\(|\.checkpoint\(|\.cache\(|scratch_dir")


def _helper_lines() -> range:
    tree = ast.parse(SESSION.read_text())
    fn = next(
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "materialize"
    )
    return range(fn.lineno, fn.end_lineno + 1)


def test_lineage_cuts_only_in_materialize():
    files = sorted((REPO / "jirlbot_spark").rglob("*.py")) + [
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
    ]
    helper = _helper_lines()
    hits = [
        f"{p.relative_to(REPO)}:{i}: {line.strip()}"
        for p in files
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if CUT.search(line) and not (p == SESSION and i in helper)
    ]
    assert not hits, "lineage cut outside materialize:\n" + "\n".join(hits)
