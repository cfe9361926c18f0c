#!/usr/bin/env python3
"""Round-close artifact gate (VERDICT r11 item 4).

Round 11 shipped five good components and still ended red because the
official driver artifacts (CORRECTNESS_r11 117/125, BENCH_r11 rc=1)
went unchecked after a testdata regeneration broke eight queries. This
script is the missing check: run it against the latest round artifacts
and it exits nonzero unless everything the driver gates on is green.

Checks:
  1. CORRECTNESS_r{N}.json contains EVERY query name defined in
     src/main/scala/graft/queries/*.scala (the SparkEntry.queries
     ground truth, extracted textually so no JVM is needed), and every
     entry is fully green (rows/schema/hash match, err null).
  2. BENCH_r{N}.json has rc == 0 and, when the driver managed to parse
     the bench line, an empty failures map.
  3. Optionally (--local-bench <path>): a bare bench JSON written via
     SPARK_GRAFT_BENCH_OUT must parse, have empty failures, and cover
     every query name; its queries_counts must hold an entry for every
     timed query, each with integer jobs, stages and tasks of 0 or more
     and numeric input_mb and shuffle_write_mb.

Usage: artifact_gate.py [N] [--local-bench PATH]
  N defaults to the highest round with a CORRECTNESS_r*.json present.
"""
import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def expected_queries():
    names = set()
    for path in glob.glob(os.path.join(REPO, "src/main/scala/graft/queries/*.scala")):
        with open(path, encoding="utf-8") as f:
            names.update(re.findall(r'"(q\d+_[a-z0-9_]+)"\s*->', f.read()))
    return names


def count_problems(entry):
    """What is wrong with one queries_counts entry, or None."""
    if not isinstance(entry, dict):
        return "is not an object"
    for k in ("jobs", "stages", "tasks"):
        v = entry.get(k)
        if not isinstance(v, int) or isinstance(v, bool) or v < 0:
            return f"{k}={v!r} is not an integer of 0 or more"
    for k in ("input_mb", "shuffle_write_mb"):
        v = entry.get(k)
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            return f"{k}={v!r} is not a number"
    return None


def latest_round():
    rounds = [int(m.group(1)) for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
              if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))]
    if not rounds:
        sys.exit("FAIL: no CORRECTNESS_r*.json artifact found")
    return max(rounds)


def main():
    args = sys.argv[1:]
    local_bench = None
    if "--local-bench" in args:
        i = args.index("--local-bench")
        local_bench = args[i + 1]
        del args[i:i + 2]
    n = int(args[0]) if args else latest_round()
    expected = expected_queries()
    if not expected:
        sys.exit("FAIL: no query names found in src/main/scala/graft/queries/")
    problems = []

    cpath = os.path.join(REPO, f"CORRECTNESS_r{n}.json")
    try:
        with open(cpath) as f:
            correctness = json.load(f)
    except OSError:
        correctness = None
        problems.append(f"CORRECTNESS_r{n}.json missing")
    if correctness is not None:
        missing = sorted(expected - set(correctness))
        if missing:
            problems.append(
                f"CORRECTNESS_r{n}: {len(missing)} queries have NO entry: {', '.join(missing)}")
        for name, entry in sorted(correctness.items()):
            bad = [k for k in ("rows_match", "schema_match", "hash_match")
                   if not entry.get(k)]
            if bad or entry.get("err"):
                problems.append(
                    f"CORRECTNESS_r{n}: {name} not green "
                    f"(failed: {', '.join(bad) or 'err'}; err={entry.get('err')})")

    bpath = os.path.join(REPO, f"BENCH_r{n}.json")
    try:
        with open(bpath) as f:
            bench = json.load(f)
    except OSError:
        bench = None
        problems.append(f"BENCH_r{n}.json missing")
    if bench is not None:
        if bench.get("rc") != 0:
            problems.append(f"BENCH_r{n}: rc={bench.get('rc')} (bench process failed)")
        parsed = bench.get("parsed")
        if isinstance(parsed, dict) and parsed.get("failures"):
            problems.append(f"BENCH_r{n}: failures={sorted(parsed['failures'])}")

    if local_bench:
        try:
            with open(local_bench) as f:
                lb = json.load(f)
        except (OSError, json.JSONDecodeError) as e:
            lb = None
            problems.append(f"local bench {local_bench}: unreadable/not bare JSON ({e})")
        if lb is not None:
            if lb.get("failures"):
                problems.append(f"local bench: failures={sorted(lb['failures'])}")
            missing = sorted(expected - set(lb.get("queries", {})))
            if missing:
                problems.append(
                    f"local bench: {len(missing)} queries untimed: {', '.join(missing)}")
            counts = lb.get("queries_counts")
            if not isinstance(counts, dict):
                problems.append("local bench: no queries_counts object")
            else:
                uncounted = sorted(set(lb.get("queries", {})) - set(counts))
                if uncounted:
                    problems.append(
                        f"local bench: {len(uncounted)} timed queries have no counts: "
                        f"{', '.join(uncounted)}")
                for name, entry in sorted(counts.items()):
                    bad = count_problems(entry)
                    if bad:
                        problems.append(f"local bench: queries_counts[{name}] {bad}")
            if lb.get("contended") is True:
                print(f"WARN: local bench contended=true "
                      f"(timings suspect; retimed set: {sorted(lb.get('queries_retimed', {}))})")

    if problems:
        for p in problems:
            print(f"FAIL: {p}")
        sys.exit(1)
    print(f"OK: round {n} artifacts green "
          f"({len(expected)} queries expected, all present and matching)")


if __name__ == "__main__":
    main()
