#!/usr/bin/env python3
"""Diff two `graft.Explain` outputs, ignoring run-specific ids.

Usage: python3 tools/plandiff.py A B

A and B are captured stdout of `graft.Explain` (the final plan plus every
Materialize segment plan per query), e.g. from the parent and the change.
Before diffing, each line is normalized for exactly these run-specific
tokens, and nothing else:

  - expression ids      `vec_id#367L`                  -> `vec_id#NL`
  - plan ids            `plan_id=12`                   -> `plan_id=N`
  - RDD ids             `MapPartitionsRDD[27]`, `rdd_27_0` -> `...RDD[N]`, `rdd_N_0`
  - call-site suffixes  `Materialize.scala:128`        -> `Materialize.scala:N`
  - JVM lambda classes  `Analytics$$$Lambda$4445/0x00007f8d3926b2a8` -> `...$Lambda$N`
  - lambda variables    `lambda x_6#N`, `lambda y_7#N`  -> `lambda x_N`, `lambda y_N`
    (numbered by a JVM-wide counter, so building one more higher-order
    function earlier in the run renumbers every later one)
  - JVM identity hashes `TopKByScore@57ac220f`, `[D@7475f57e` -> `...@H`
    (lambda class names and objects printed by their default toString
    differ between two runs of the same commit)

Prints a unified diff of the normalized texts; prints nothing and exits 0
when the plans are the same, exits 1 when they differ.
"""
import difflib
import re
import sys

_RULES = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\brdd_\d+"), "rdd_N"),
    (re.compile(r"\b(\w+\.scala):\d+"), r"\1:N"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$N"),
    (re.compile(r"\b(lambda \w+?)_\d+\b"), r"\1_N"),
    (re.compile(r"(?<=[\w\[$])@[0-9a-f]{1,8}\b"), "@H"),
]


def normalize(line):
    for pat, rep in _RULES:
        line = pat.sub(rep, line)
    return line


def load(path):
    with open(path, encoding="utf-8") as f:
        return [normalize(l) for l in f]


def main(argv):
    if len(argv) != 3:
        sys.stderr.write("usage: plandiff.py A B\n")
        return 2
    a, b = load(argv[1]), load(argv[2])
    diff = list(difflib.unified_diff(a, b, fromfile=argv[1], tofile=argv[2]))
    try:
        sys.stdout.writelines(diff)
    except BrokenPipeError:  # piped into head
        pass
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
