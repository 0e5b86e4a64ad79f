#!/usr/bin/env python3
"""Benchmark self-tests; run from the repository root:

  python3 perfbench/selftest.py

  - the release generator gives byte-identical output for the same seed,
    and different output for another seed;
  - the board session's confs (harness Board.scala) equal the confs
    graft.Bench sets (src/main/scala/graft/Bench.scala): the one copy the
    benchmark keeps must not drift.
Exit code: the number of failed self-tests.
"""
import filecmp
import os
import re
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

_CONF = re.compile(r'\.config\(\s*"([^"]+)"\s*,\s*("[^"]*"|\w+)\s*\)')
_PAIR = re.compile(r'"([^"]+)"\s*->\s*("[^"]*"|\w+)')


def _same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def generator_is_deterministic():
    fixtures = os.path.join(ROOT, "data", "fixtures")
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as tmp:
        a, b, c = (os.path.join(tmp, x) for x in "abc")
        gen.generate(fixtures, a, 300, 7)
        gen.generate(fixtures, b, 300, 7)
        gen.generate(fixtures, c, 300, 8)
        problems = []
        if not _same_tree(a, b):
            problems.append("same seed gave different release files")
        if filecmp.cmp(os.path.join(a, "day2.xml"), os.path.join(c, "day2.xml"), shallow=False):
            problems.append("another seed gave the same day-2 release")
        return problems


def _confs(path, pattern):
    """The ("spark.*", value) pairs the file sets, in order."""
    with open(path, encoding="utf-8") as f:
        text = f.read()
    return [(k, v.strip('"')) for k, v in pattern.findall(text) if k.startswith("spark.")]


def board_confs_match_bench():
    bench = _confs(os.path.join(ROOT, "src", "main", "scala", "graft", "Bench.scala"), _CONF)
    board_src = os.path.join(HERE, "harness", "src", "main", "scala", "perfbench", "Board.scala")
    board = _confs(board_src, _PAIR)
    # both pass the variable `cpus` for the shuffle partitions
    if not bench:
        return ["found no .config(...) calls in Bench.scala"]
    if sorted(bench) != sorted(board):
        return ["board confs differ from graft.Bench: only in Bench %s, only in board %s" % (
            sorted(set(bench) - set(board)), sorted(set(board) - set(bench)))]
    return []


def run_all():
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    return generator_is_deterministic() + board_confs_match_bench()


if __name__ == "__main__":
    failures = run_all()
    for f in failures:
        print("FAIL", f)
    print("selftest: %d failed" % len(failures))
    sys.exit(len(failures))
