"""CLI parity: `python -m mapreduceindexer_spark <manifest> <out>` builds
the same 26-letter index the reference binary builds from the same
manifest (the reference's own small fixture, ported to
``tests/fixtures/``)."""

from __future__ import annotations

import os
import string
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURES = os.path.join(ROOT, "tests", "fixtures")


def test_cli_builds_golden_small_index(tmp_path):
    out = str(tmp_path / "idx")
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    res = subprocess.run(
        [sys.executable, "-m", "mapreduceindexer_spark",
         os.path.join(FIXTURES, "manifest_small.txt"), out],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    from mapreduceindexer_spark.operators.sink import read_index_letter

    for c in string.ascii_lowercase:
        with open(
            os.path.join(FIXTURES, "golden_small", f"{c}.txt"), encoding="utf-8"
        ) as fh:
            golden = fh.read().splitlines()
        assert read_index_letter(out, c) == golden, c
