#!/usr/bin/env python3
"""Per-suite test time table from an sbt test log.

ScalaTest's `-oD` reporter (set in build.sbt) ends every test line with its
duration, e.g. `[info] - name (2 seconds, 31 milliseconds)`, under a
`[info] SuiteName:` header. This sums those durations per suite and prints
a Markdown table, slowest suite first, with the total.

Usage: tools/suite_times.py test.log
"""
import re
import sys

ANSI = re.compile(r"\x1b\[[0-9;]*m")
SUITE = re.compile(r"^\[info\] ([A-Za-z_][\w.$]*):\s*$")
TEST = re.compile(r"^\[info\] - .*\(([^()]*)\)\s*$")
PART = re.compile(r"(\d+) (hour|minute|second|millisecond)s?\b")
SECONDS = {"hour": 3600.0, "minute": 60.0, "second": 1.0, "millisecond": 0.001}


def duration(text):
    """Seconds in a ScalaTest duration such as `1 minute, 2 seconds`, or
    None when the text is not one."""
    parts = PART.findall(text)
    if not parts or PART.sub("", text).strip(" ,"):
        return None
    return sum(int(n) * SECONDS[unit] for n, unit in parts)


def suite_times(lines):
    """{suite: [tests, seconds]} in first-seen order."""
    times, suite = {}, None
    for raw in lines:
        line = ANSI.sub("", raw).rstrip("\n")
        m = SUITE.match(line)
        if m:
            suite = m.group(1)
            continue
        m = TEST.match(line)
        if m and suite:
            sec = duration(m.group(1))
            if sec is not None:
                entry = times.setdefault(suite, [0, 0.0])
                entry[0] += 1
                entry[1] += sec
    return times


def table(times):
    rows = sorted(times.items(), key=lambda kv: -kv[1][1])
    out = ["| suite | tests | seconds |", "|---|---:|---:|"]
    out += [f"| {s} | {n} | {sec:.1f} |" for s, (n, sec) in rows]
    out.append(f"| total | {sum(n for n, _ in times.values())} | "
               f"{sum(sec for _, sec in times.values()):.1f} |")
    return "\n".join(out)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__.strip().splitlines()[-1])
    with open(argv[1], encoding="utf-8", errors="replace") as f:
        print(table(suite_times(f)))


if __name__ == "__main__":
    main(sys.argv)
