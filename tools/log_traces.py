#!/usr/bin/env python3
"""Count java.io.FileNotFoundException traces in an sbt test log, per suite.

A trace is a line that starts an exception (optionally after sbt's
"[info]"/"[error]" prefix, or after "Caused by: ") whose class is
java.io.FileNotFoundException. Each trace is given to a suite:

  1. the first stack frame under it that names a *Spec class, when there
     is one (a trace thrown on the test's own thread);
  2. otherwise by position: sbt prints "[info] <Suite>:" with the suite's
     first test result, so a trace between that header and the suite's
     last "[info] - " result line is the suite's, and a trace before a
     header (and after the previous suite's last result) belongs to the
     suite of that header, which was already running.

Usage:
    python3 tools/log_traces.py LOG

Prints one line per suite with traces (count, then suite), then the total
and the raw count of lines that mention FileNotFoundException anywhere.
"""
import collections
import re
import sys

PREFIX = r"^(?:\[(?:info|error|warn)\]\s*)?"
TRACE = re.compile(PREFIX + r"(?:Caused by: )?java\.io\.FileNotFoundException\b")
FRAME = re.compile(PREFIX + r"\s*at ")
SPEC_FRAME = re.compile(r"at graft\.(?:[\w$]+\.)*?(\w+Spec)\b")
# not anchored: a suite running beside another can print its header onto
# the tail of that suite's unfinished stack-frame line
HEADER = re.compile(r"\[info\] (\w+):\s*$")
RESULT = re.compile(r"^\[info\] - ")


def suites(lines):
    """[(name, header index, last result index)] in log order."""
    out = []
    for i, line in enumerate(lines):
        m = HEADER.search(line)
        if m:
            out.append([m.group(1), i, i])
        elif RESULT.match(line) and out:
            out[-1][2] = i
    return out


def owner(i, lines, spans):
    """The suite a trace starting at line `i` belongs to."""
    j = i + 1
    while j < len(lines) and FRAME.match(lines[j]):
        m = SPEC_FRAME.search(lines[j])
        if m:
            return m.group(1)
        j += 1
    for name, start, end in spans:
        if start <= i <= end:
            return name
        if i < start:
            return name
    return "(after the last suite)"


def main(args):
    if len(args) != 1:
        sys.exit(__doc__)
    lines = open(args[0], encoding="utf-8", errors="replace").read().splitlines()
    spans = suites(lines)
    per = collections.Counter(owner(i, lines, spans)
                              for i, line in enumerate(lines) if TRACE.match(line))
    for name, n in sorted(per.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"{n:>5}  {name}")
    print(f"{sum(per.values()):>5}  total")
    raw = sum("FileNotFoundException" in line for line in lines)
    print(f"{raw:>5}  lines mentioning FileNotFoundException")


if __name__ == "__main__":
    main(sys.argv[1:])
