"""Reads a finished batch's artifacts back and compares them with the oracle.

`measure(run_dir)` counts what the pipeline wrote: side-channel rows per
report, target rows and batch markers per loaded day, audit rows, archived
and leftover inputs. `compare(expected, measured)` lists every mismatch
with the counts `gen.expected` derived from the planted rows.
"""

import csv
import gzip
import os
from collections import Counter

import pyarrow.parquet as pq

import gen

CHANNELS = {"kept": "data exported", "duplicates": "duplicates", "rejects": "error rows"}


def _parts(d):
    """Data files of a Spark output directory (no checksums or markers)."""
    if not os.path.isdir(d):
        return []
    return sorted(os.path.join(d, f) for f in os.listdir(d) if f.startswith("part-"))


def data_files(root):
    """Every data file under `root`, recursively, as relative paths."""
    out = []
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith("part-"):
                out.append(os.path.relpath(os.path.join(dirpath, f), root))
    return sorted(out)


def _csv_rows(d):
    n = 0
    for p in _parts(d):
        with gzip.open(p, "rt", encoding="utf-8", newline="") as f:
            rows = sum(1 for _ in csv.reader(f))
        n += max(0, rows - 1)  # every part file repeats the header
    return n


def _channel_dir(export_dir, report, channel):
    prefix = "%s %s " % (report, channel)
    hits = [d for d in os.listdir(export_dir) if d.startswith(prefix)] \
        if os.path.isdir(export_dir) else []
    return os.path.join(export_dir, hits[0]) if len(hits) == 1 else None


def measure(run_dir):
    """Counts of everything the batch in `run_dir` wrote."""
    export = os.path.join(run_dir, "export")
    target = os.path.join(run_dir, "target")
    reports = {}
    for report in gen.HEADERS:
        counts = {}
        for key, channel in CHANNELS.items():
            d = _channel_dir(export, report, channel)
            counts[key] = _csv_rows(d) if d else -1
        reports[report] = counts
    tables = {}
    for report, name in gen.TARGET_DIR.items():
        root = os.path.join(target, name)
        days = {}
        for part in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            col, _, day = part.partition("=")
            if col != gen.LOAD_COL[report]:
                continue
            rows, markers = 0, set()
            for p in _parts(os.path.join(root, part)):
                t = pq.read_table(p, columns=["checked_on_board"])
                rows += t.num_rows
                markers.update(t.column(0).to_pylist())
            days[day] = [rows, ",".join(sorted(str(m) for m in markers))]
        tables[report] = days
    audit = Counter()
    for p in _parts(os.path.join(target, "audit")):
        t = pq.read_table(p, columns=["table", "period"]).to_pydict()
        audit.update("%s|%s" % k for k in zip(t["table"], t["period"]))
    archive = os.path.join(run_dir, "archive")
    inputs = os.path.join(run_dir, "input")
    return {
        "reports": reports,
        "target": tables,
        "audit_per_day": dict(sorted(audit.items())),
        "archived_files": len(os.listdir(archive)) if os.path.isdir(archive) else 0,
        "inputs_left": len(os.listdir(inputs)) if os.path.isdir(inputs) else 0,
    }


def compare(exp, got):
    """Mismatches between the oracle's counts and the measured ones."""
    bad = []
    for report, e in exp["reports"].items():
        g = got["reports"][report]
        for key in CHANNELS:
            if g[key] != e[key]:
                bad.append("%s %s: expected %d, wrote %d" % (report, key, e[key], g[key]))
        if g["kept"] + g["duplicates"] + g["rejects"] != e["read"]:
            bad.append("%s: read %d != kept + duplicates + rejects %d" % (
                report, e["read"], g["kept"] + g["duplicates"] + g["rejects"]))
    for report, days in exp["target"].items():
        g = got["target"].get(report, {})
        for day, (rows, marker) in days.items():
            if g.get(day) != [rows, marker]:
                bad.append("%s %s: expected %d rows of %s, found %s" % (
                    report, day, rows, marker, g.get(day)))
        for day in sorted(set(g) - set(days)):
            bad.append("%s %s: unexpected partition %s" % (report, day, g[day]))
    if got["audit_per_day"] != exp["audit_per_day"]:
        bad.append("audit: expected %d rows, found %d (or different days)" % (
            exp["audit_total"], sum(got["audit_per_day"].values())))
    if got["archived_files"] != exp["archived_files"]:
        bad.append("archive: expected %d files, found %d" % (
            exp["archived_files"], got["archived_files"]))
    if got["inputs_left"]:
        bad.append("input: %d files left after archival" % got["inputs_left"])
    return bad
