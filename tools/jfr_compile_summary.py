#!/usr/bin/env python3
"""JIT compile time per package from a JDK Flight Recorder recording.

    java -XX:StartFlightRecording:filename=run.jfr,settings=comp.jfc ...
    jfr print --json --events jdk.Compilation run.jfr > comp.json
    python3 tools/jfr_compile_summary.py comp.json [--depth 3] [--top 15]
        [--window SECONDS | --cuts EPOCH_S,EPOCH_S,...]

`comp.jfc` is a copy of `$JAVA_HOME/lib/jfr/default.jfc` whose
`jdk.Compilation` threshold is `0 ms` (the shipped settings drop compiles
shorter than 100 ms or 1 s). Reads the `jdk.Compilation` events (a file path, or standard input for
`-`) and prints, per package of the compiled method's class, the number of
JIT compiles and their milliseconds, largest first. Classes that Spark
generates and Janino compiles at run time (`...GeneratedClass$...`) are
reported as `(generated)`; Janino's own classes are `org.codehaus...`.
`--depth` sets how many leading package names form a group.

With `--window`, the same table is printed for each window of that many
seconds from the first event; with `--cuts`, for each span between the
given wall-clock instants (seconds since the epoch, e.g. the boundaries of
the batches of a run), plus the spans before the first and after the last.
"""
import argparse
import collections
import datetime
import json
import re
import sys

GENERATED = "(generated)"


def seconds(duration):
    """An ISO-8601 duration (`PT0.0123S`, `PT1M2.5S`) or nanoseconds, in s."""
    if isinstance(duration, (int, float)):
        return duration / 1e9
    m = re.fullmatch(r"PT(?:(\d+)H)?(?:(\d+)M)?(?:([\d.]+)S)?", duration)
    if not m:
        raise ValueError(f"unreadable duration {duration!r}")
    h, mi, s = (float(g) if g else 0.0 for g in m.groups())
    return h * 3600 + mi * 60 + s


def instant(ts):
    """An ISO-8601 timestamp (nanosecond digits allowed), in epoch seconds."""
    if isinstance(ts, (int, float)):
        return ts / 1e9
    m = re.fullmatch(r"(.*T\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:\d\d)?", ts)
    if not m:
        raise ValueError(f"unreadable timestamp {ts!r}")
    zone = m.group(3) or "Z"
    base = datetime.datetime.fromisoformat(
        m.group(1) + ("+00:00" if zone == "Z" else zone))
    return base.timestamp() + (float("0." + m.group(2)) if m.group(2) else 0.0)


def group(class_name, depth):
    name = class_name.replace("/", ".")
    if "GeneratedClass$" in name:
        return GENERATED
    return ".".join(name.split(".")[:-1][:depth]) or "(default package)"


def compiles(doc, depth):
    """(start epoch s, package group, ms) per jdk.Compilation event."""
    for e in doc["recording"]["events"]:
        if e.get("type") != "jdk.Compilation":
            continue
        v = e["values"]
        method = v.get("method") or {}
        cls = (method.get("type") or {}).get("name", "?")
        yield instant(v["startTime"]), group(cls, depth), seconds(v["duration"]) * 1e3


def table(rows, top, title):
    per = collections.defaultdict(lambda: [0, 0.0])
    for _, pkg, ms in rows:
        per[pkg][0] += 1
        per[pkg][1] += ms
    total = sum(ms for _, _, ms in rows)
    print(f"== {title}: {len(rows)} compiles, {total:.0f} ms")
    ranked = sorted(per.items(), key=lambda kv: -kv[1][1])
    for pkg, (n, ms) in ranked[:top]:
        print(f"{ms:10.0f} ms {100 * ms / total if total else 0:5.1f}% {n:7d}  {pkg}")
    rest = ranked[top:]
    if rest:
        print(f"{sum(r[1][1] for r in rest):10.0f} ms {'':6} {sum(r[1][0] for r in rest):7d}"
              f"  ({len(rest)} more packages)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("json", help="`jfr print --json --events jdk.Compilation` output, or -")
    ap.add_argument("--depth", type=int, default=3)
    ap.add_argument("--top", type=int, default=15)
    split = ap.add_mutually_exclusive_group()
    split.add_argument("--window", type=float, help="window length in seconds")
    split.add_argument("--cuts", help="comma-separated epoch seconds splitting the run")
    args = ap.parse_args()

    with (sys.stdin if args.json == "-" else open(args.json)) as f:
        rows = sorted(compiles(json.load(f), args.depth))
    if not rows:
        print("no jdk.Compilation events")
        return 1
    table(rows, args.top, "all")
    first, last = rows[0][0], rows[-1][0]
    if args.window:
        bounds = [first + i * args.window
                  for i in range(1, int((last - first) // args.window) + 1)]
    elif args.cuts:
        bounds = sorted(float(c) for c in args.cuts.split(","))
    else:
        return 0

    def label(t):
        return "start" if t == float("-inf") else "end" if t == float("inf") \
            else f"+{t - first:.1f}s"

    edges = [float("-inf")] + bounds + [float("inf")]
    for lo, hi in zip(edges, edges[1:]):
        table([r for r in rows if lo <= r[0] < hi], args.top, f"{label(lo)} .. {label(hi)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
