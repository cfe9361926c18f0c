"""Seeded input generator and output oracle for the pipeline benchmark.

A workload is a batch of train-report files (CSV files or xlsx workbooks)
plus the two side inputs the Train List reader joins against: a train
departure-hours CSV and a ticket-history parquet. Every row the generator
plants is recorded in a manifest, and `expected()` derives the counts the
pipeline must produce from that manifest alone, by the documented report
semantics (mandatory-column rejects, keep-last dedup keys, per-day
partition load, one audit row per loaded day, archival of every input).

Same seed -> byte-identical files; the seed changes every value.
"""

import csv
import io
import os
import random
import re
import zipfile
from collections import Counter, defaultdict
from datetime import date, datetime, timedelta, timezone
from xml.sax.saxutils import escape

import pyarrow as pa
import pyarrow.parquet as pq

# Source headers, in the order the classifier expects them.
TL_HEADER = [
    "Departure Date", "Train Number", "OD", "Origin Station", "Destination Station",
    "Coach Number", "Seat Number", "Class", "Booking Code", "Ticket Number", "Tariff",
    "Status", "Payment Mode", "Media Type", "Sales Channel", "Base Price",
    "VAT Base Price", "Management Fee", "VAT Management Fee", "Payment Fee",
    "VAT Payment Fee", "Operation Amount", "Penalty Tariff", "Amount Not Refunded",
    "Compensation Type", "Compensation Reason", "Compensation Status", "Nationality",
    "Gender", "Name", "Surname", "Document", "Prefix", "Telephone", "Profile",
    "Special Needs", "Validation Time", "Group", "Checked On Board",
    "Last Operation Channel", "Last Operation Equipment Code"]
OCC_HEADER = [
    "Date", "OD", "Origin Station", "Destination Station", "Train ID", "Train Number",
    "Class", "Total Seats (Quota + Carer + PRM)", "Quota Configuration",
    "Total Locks (Quota + Carer + PRM)", "For Sale", "Reserved Usual Seats",
    "Reserved PRM Seats", "Reserved Carer Seats", "Ticket Reserved (Usual + Carer + PRM)",
    "Reserved & Lock Usual Seats", "Reserved & Lock PRM Seats",
    "Reserved & Lock Carer Seats", "Total Available", "Validating", "No Show",
    "UnBooked", "Passengers Inc. Infants", "Checked On Board"]
BPD_HEADER = [
    "Booking Code", "Ticket Number", "Operation Date", "Base Price", "VAT Base Price",
    "Management Fee", "VAT Management Fee", "Payment Fee", "VAT Payment Fee",
    "Operation Amount", "Penalty Tariff", "VAT Penalty", "Compensation Type",
    "Compensation Reason", "Compensation Status", "Card Number", "Authorization Code",
    "Order ID", "Transaction ID", "Status Payment Card", "Card Brand", "Bill Number",
    "Bill Status", "Train Number", "Departure Date", "Arrival Date", "OD",
    "Origin Station", "Destination Station", "Class", "Tariff",
    "Reserved Number of Seats", "Status", "Card Serial Number", "Card User Name",
    "Sales Station", "Sales Channel", "Sales Equipment Code", "Payment Mode",
    "Coach Number", "Seat Number", "Nationality", "Name", "Surname", "Gender",
    "Document Type", "Document", "Prefix", "Telephone", "Email", "Profile",
    "Validation Time", "Checked On Board", "Detail Type", "Tipology",
    "Last Operation Channel", "Last Operation Equipment Code"]

TL, OCC, BPD = "Train List", "Occupancy", "Booking Payment Detailed"
HEADERS = {TL: TL_HEADER, OCC: OCC_HEADER, BPD: BPD_HEADER}
# Numeric columns: a malformed value here nulls on coercion and rejects the row.
NUMERIC = {TL: "Operation Amount", OCC: None, BPD: "Operation Amount"}
# Target directory names, as the pipeline derives them from report names.
TARGET_DIR = {r: r.replace(" ", "_").lower() for r in HEADERS}
# Partition column of each report's load.
LOAD_COL = {TL: "departure_date_short", OCC: "date", BPD: "op_day"}

STATIONS = [("MAD", "Madrid"), ("BCN", "Barcelona"), ("SVQ", "Sevilla"),
            ("VLC", "Valencia"), ("ZAZ", "Zaragoza"), ("AGP", "Malaga")]
CLASSES = ["Standard", "Comfort", "Premium"]
TRAINS = ["%05d" % (3000 + 7 * i) for i in range(24)]
FIRST_DAY = date(2024, 5, 1)

WORKLOADS = {
    # Few inputs, much data: two 16k-row CSV files per report type (about
    # 22 MB), with junk rows above the header, loaded over an earlier load,
    # so the load replaces the partitions of the days it shares with it.
    # Per-input work stays small; the input's bytes through the reader
    # chain, the dedup shuffle and the sink writes carry the batch.
    "csv-bulk": {
        "format": "csv", "files_per_report": 2, "rows_per_file": 16000,
        "days": 12, "dup_share": 0.05, "reject_share": 0.02, "junk_rows": 3,
        "prior": True,
    },
    # Many inputs, little data: twelve 100-row sheets in eight workbooks,
    # loaded fresh. Per-input work (sheet sniffs, StAX parses, eager guard
    # jobs, wide unions) carries the batch. Its rows are a fraction of
    # csv-bulk's: a cold batch must fit the benchmark's time per run.
    "xlsx-many": {
        "format": "xlsx", "books": 8, "sheets": [1, 2],
        "rows_per_file": 100, "days": 12, "dup_share": 0.05,
        "reject_share": 0.02, "junk_rows": 1,
    },
}


def _money(rng):
    return "%.2f" % rng.uniform(5, 150)


class _Planter:
    """Draws report rows for one batch; records every planted row."""

    def __init__(self, rng, spec, batch, days):
        self.rng = rng
        self.spec = spec
        self.batch = batch
        self.days = days
        self.tickets = 0
        self.occ_keys = 0
        self.history = {}
        # keys already planted, per report, for cross-file duplicates
        self.planted = defaultdict(list)

    def _ticket(self):
        self.tickets += 1
        return "TK%d%07d" % (self.batch, self.tickets)

    def _od(self):
        (a, an), (b, bn) = self.rng.sample(STATIONS, 2)
        return "%s-%s" % (a, b), an, bn

    def _ts(self, day):
        return "%s %02d:%02d:00" % (day.isoformat(), self.rng.randrange(5, 23),
                                    self.rng.randrange(60))

    def fresh(self, report):
        """A new, unique-keyed row of `report`: (cells, day, key)."""
        rng = self.rng
        day = rng.choice(self.days)
        marker = "b%d" % self.batch
        if report == TL:
            od, o, d = self._od()
            ticket = self._ticket()
            dep = self._ts(day)
            if rng.random() < 0.5:
                op = datetime.fromisoformat(dep) - timedelta(days=rng.randrange(1, 30))
                self.history[ticket] = op
            cells = {
                "Departure Date": dep, "Train Number": rng.choice(TRAINS), "OD": od,
                "Origin Station": o, "Destination Station": d,
                "Coach Number": str(rng.randrange(1, 12)),
                "Seat Number": "%d%s" % (rng.randrange(1, 20), rng.choice("ABCD")),
                "Class": rng.choice(CLASSES), "Booking Code": "BK%06d" % rng.randrange(10**6),
                "Ticket Number": ticket, "Tariff": rng.choice(["Basic", "Flex", "Promo"]),
                "Status": "Issued", "Payment Mode": "Card", "Media Type": "Mobile",
                "Sales Channel": "Web", "Base Price": _money(rng),
                "VAT Base Price": _money(rng), "Management Fee": _money(rng),
                "VAT Management Fee": _money(rng), "Payment Fee": _money(rng),
                "VAT Payment Fee": _money(rng), "Operation Amount": _money(rng),
                "Penalty Tariff": _money(rng) if rng.random() < 0.2 else "",
                "Nationality": rng.choice(["ES", "FR", "PT", "DE"]),
                "Gender": rng.choice("FM"), "Name": "Name%d" % rng.randrange(999),
                "Surname": "Surname%d" % rng.randrange(999),
                "Document": "D%08d" % rng.randrange(10**8), "Prefix": "+34",
                "Telephone": "+34-6%02d-%03d-%03d" % (rng.randrange(100), rng.randrange(1000),
                                                     rng.randrange(1000)),
                "Profile": "Adult", "Validation Time": self._ts(day),
                "Group": "N", "Checked On Board": marker,
                "Last Operation Channel": "Web", "Last Operation Equipment Code": "EQ1"}
            key = ticket
        elif report == OCC:
            od, o, d = self._od()
            self.occ_keys += 1
            # one dedup key (day, od, train, class) per planted key: the
            # train number carries the key's ordinal, so keys never collide
            train = "%s%05d" % (rng.choice(TRAINS), self.occ_keys)
            cls = rng.choice(CLASSES)
            seats = rng.randrange(100, 400)
            cells = {c: str(rng.randrange(0, 50)) for c in OCC_HEADER}
            cells.update({
                "Date": "%s 00:00:00" % day.isoformat(), "OD": od, "Origin Station": o,
                "Destination Station": d, "Train ID": "ID%06d" % rng.randrange(10**6),
                "Train Number": train, "Class": cls,
                "Total Seats (Quota + Carer + PRM)": str(seats),
                "Quota Configuration": "Q%d" % rng.randrange(5),
                "Ticket Reserved (Usual + Carer + PRM)": str(rng.randrange(seats)),
                "Checked On Board": marker})
            key = (day.isoformat(), od, train, cls)
        else:
            od, o, d = self._od()
            dep = self._ts(day)
            cells = {c: "" for c in BPD_HEADER}
            cells.update({
                "Booking Code": "BK%06d" % rng.randrange(10**6), "Ticket Number": self._ticket(),
                "Operation Date": dep, "Base Price": _money(rng),
                "VAT Base Price": _money(rng), "Management Fee": _money(rng),
                "VAT Management Fee": _money(rng), "Payment Fee": _money(rng),
                "VAT Payment Fee": _money(rng), "Operation Amount": _money(rng),
                "Penalty Tariff": _money(rng), "VAT Penalty": _money(rng),
                "Card Number": "****%04d" % rng.randrange(10**4),
                "Authorization Code": "A%05d" % rng.randrange(10**5),
                "Order ID": "O%08d" % rng.randrange(10**8),
                "Transaction ID": "X%08d" % rng.randrange(10**8),
                "Card Brand": rng.choice(["VISA", "MC"]), "Train Number": rng.choice(TRAINS),
                "Departure Date": dep, "Arrival Date": dep, "OD": od,
                "Origin Station": o, "Destination Station": d,
                "Class": rng.choice(CLASSES), "Tariff": "Basic", "Status": "Paid",
                "Sales Channel": "Web", "Payment Mode": "Card",
                "Nationality": rng.choice(["ES", "FR"]), "Name": "Name%d" % rng.randrange(999),
                "Email": "user%d@example.com" % rng.randrange(10**5),
                "Checked On Board": marker, "Detail Type": "Sale"})
            key = None
        return cells, day, key

    def duplicate(self, report):
        """A re-issued copy of an already-planted key (same day)."""
        cells, day, key = self.rng.choice(self.planted[report])
        cells = dict(cells)
        if report == TL:
            cells["Status"] = "Modified"
        elif report == OCC:
            cells["Ticket Reserved (Usual + Carer + PRM)"] = str(self.rng.randrange(400))
        else:
            cells["Order ID"] = "O%08d" % self.rng.randrange(10**8)
        return cells, day, key

    def rows(self, report, n):
        """`n` planted rows of one input: list of (cells, kind, day, key)."""
        out = []
        for _ in range(n):
            x = self.rng.random()
            if x < self.spec["reject_share"]:
                cells, day, key = self.fresh(report)
                col = NUMERIC[report] or "Date"
                cells[col] = "n/a"
                out.append((cells, "reject", day, key))
            elif x < self.spec["reject_share"] + self.spec["dup_share"] and self.planted[report]:
                cells, day, key = self.duplicate(report)
                out.append((cells, "dup", day, key))
            else:
                cells, day, key = self.fresh(report)
                self.planted[report].append((cells, day, key))
                out.append((cells, "row", day, key))
        return out


def _junk(report, n):
    lines = [["%s report" % report], ["Generated by RMS", "export v2"],
             ["Filters", "all trains", "all classes"]]
    return [lines[i % len(lines)] for i in range(n)]


def _csv_bytes(report, junk, rows):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    for line in _junk(report, junk):
        w.writerow(line)
    w.writerow(HEADERS[report])
    for cells, *_ in rows:
        w.writerow([cells.get(c, "") for c in HEADERS[report]])
    return buf.getvalue().encode("utf-8")


def _col_letter(i):
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _xlsx_bytes(sheets):
    """An xlsx workbook with one worksheet per (report, junk, rows) entry;
    strings go through the shared-string pool, amounts are numeric cells."""
    pool, index = [], {}

    def sst(v):
        if v not in index:
            index[v] = len(pool)
            pool.append(v)
        return index[v]

    def sheet_xml(report, junk, rows):
        header = HEADERS[report]
        lines = _junk(report, junk) + [header] + [
            [cells.get(c, "") for c in header] for cells, *_ in rows]
        out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
               '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
               '<sheetData>']
        for r, line in enumerate(lines, 1):
            out.append('<row r="%d">' % r)
            for c, v in enumerate(line):
                if v == "":
                    continue
                ref = "%s%d" % (_col_letter(c), r)
                if r > junk + 1 and _is_number(v):
                    out.append('<c r="%s"><v>%s</v></c>' % (ref, v))
                else:
                    out.append('<c r="%s" t="s"><v>%d</v></c>' % (ref, sst(v)))
            out.append("</row>")
        out.append("</sheetData></worksheet>")
        return "".join(out)

    parts = [("xl/worksheets/sheet%d.xml" % (i + 1), sheet_xml(*s))
             for i, s in enumerate(sheets)]
    ns = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
    rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sheet_list = "".join(
        '<sheet name="Sheet%d" sheetId="%d" r:id="rId%d"/>' % (i + 1, i + 1, i + 1)
        for i in range(len(sheets)))
    parts += [
        ("[Content_Types].xml",
         '<?xml version="1.0" encoding="UTF-8"?>'
         '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
         '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
         '<Default Extension="xml" ContentType="application/xml"/>'
         '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
         + "".join('<Override PartName="/xl/worksheets/sheet%d.xml" ContentType='
                   '"application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
                   % (i + 1) for i in range(len(sheets)))
         + '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
         '</Types>'),
        ("_rels/.rels",
         '<?xml version="1.0" encoding="UTF-8"?><Relationships %s>'
         '<Relationship Id="rId1" Type="%s/officeDocument" Target="xl/workbook.xml"/>'
         '</Relationships>' % (ns, rel)),
        ("xl/workbook.xml",
         '<?xml version="1.0" encoding="UTF-8"?>'
         '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
         'xmlns:r="%s"><sheets>%s</sheets></workbook>' % (rel, sheet_list)),
        ("xl/_rels/workbook.xml.rels",
         '<?xml version="1.0" encoding="UTF-8"?><Relationships %s>%s'
         '<Relationship Id="rId%d" Type="%s/sharedStrings" Target="sharedStrings.xml"/>'
         '</Relationships>' % (
             ns, "".join('<Relationship Id="rId%d" Type="%s/worksheet" '
                         'Target="worksheets/sheet%d.xml"/>' % (i + 1, rel, i + 1)
                         for i in range(len(sheets))),
             len(sheets) + 1, rel)),
        ("xl/sharedStrings.xml",
         '<?xml version="1.0" encoding="UTF-8"?>'
         '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
         'count="%d" uniqueCount="%d">%s</sst>' % (
             len(pool), len(pool), "".join("<si><t>%s</t></si>" % escape(v) for v in pool))),
    ]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, text in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"), compresslevel=6)
    return buf.getvalue()


_NUMBER = re.compile(r"(0|[1-9][0-9]*)(\.[0-9]+)?")


def _is_number(v):
    """Plain decimals become numeric cells; codes with leading zeros stay text."""
    return _NUMBER.fullmatch(v) is not None


def _batch(rng, spec, batch, days):
    """One batch of input files: ({name: bytes}, inputs manifest, history)."""
    planter = _Planter(rng, spec, batch, days)
    files, inputs = {}, []
    reports = [TL, OCC, BPD]
    if spec["format"] == "csv":
        for report in reports:
            for i in range(spec["files_per_report"]):
                rows = planter.rows(report, spec["rows_per_file"])
                name = "%s_%02d.csv" % (TARGET_DIR[report], i)
                files[name] = _csv_bytes(report, spec["junk_rows"], rows)
                inputs.append({"file": name, "sheet": None, "report": report, "rows": rows})
    else:
        k = 0
        for b in range(spec["books"]):
            sheets = []
            for s in range(spec["sheets"][b % len(spec["sheets"])]):
                report = reports[k % len(reports)]
                k += 1
                rows = planter.rows(report, spec["rows_per_file"])
                sheets.append((report, spec["junk_rows"], rows))
                inputs.append({"file": "book_%03d.xlsx" % b, "sheet": s,
                               "report": report, "rows": rows})
            files["book_%03d.xlsx" % b] = _xlsx_bytes(sheets)
    return files, inputs, planter.history


def _hours_csv():
    lines = ["train_number,departure_time"]
    for i, t in enumerate(TRAINS):
        lines.append("%s,%02d:%02d:00" % (t, 5 + i % 18, (i * 13) % 60))
    return ("\n".join(lines) + "\n").encode("utf-8")


def _history_parquet(path, history):
    tickets = sorted(history)
    table = pa.table({
        "ticket_number": pa.array(tickets, pa.string()),
        "operation_date_time": pa.array(
            [history[t].replace(tzinfo=timezone.utc) for t in tickets],
            pa.timestamp("us", tz="UTC")),
    })
    pq.write_table(table, path, compression="snappy")


def _write_batch(rng, spec, batch, days, out_dir):
    """Write one batch under `out_dir` (`input/`, `train_hours.csv`,
    `history.parquet`) and return its manifest entry."""
    files, inputs, history = _batch(rng, spec, batch, days)
    os.makedirs(os.path.join(out_dir, "input"), exist_ok=True)
    for name, data in files.items():
        with open(os.path.join(out_dir, "input", name), "wb") as f:
            f.write(data)
    with open(os.path.join(out_dir, "train_hours.csv"), "wb") as f:
        f.write(_hours_csv())
    _history_parquet(os.path.join(out_dir, "history.parquet"), history)
    return {"batch": batch, "inputs": inputs, "files": len(files),
            "bytes": sum(len(b) for b in files.values())}


def generate(workload, seed, out_dir, spec=None):
    """Write the workload's inputs under `out_dir` and return the manifest.

    The timed batch goes to `out_dir`. A workload with an earlier load also
    writes that batch to `out_dir/prior`; it is the same for every seed
    (only the increment varies), so set-up may load it once and reuse it.
    """
    spec = spec or WORKLOADS[workload]
    rng = random.Random("%s:%d" % (workload, seed))
    n = spec["days"]
    manifest = {"workload": workload, "seed": seed, "batches": []}
    if spec.get("prior"):
        # earlier load: days [0, n); timed batch: days [n/2, n + n/2)
        days = [FIRST_DAY + timedelta(days=i) for i in range(n + n // 2)]
        manifest["batches"].append(_write_batch(
            random.Random("%s:prior" % workload), spec, 0, days[:n],
            os.path.join(out_dir, "prior")))
        manifest["batches"].append(_write_batch(rng, spec, 1, days[n // 2:], out_dir))
    else:
        start = FIRST_DAY + timedelta(days=rng.randrange(200))
        days = [start + timedelta(days=i) for i in range(n)]
        manifest["batches"].append(_write_batch(rng, spec, 1, days, out_dir))
    return manifest


def _batch_counts(batch):
    """Expected per-report counts of one batch, from its planted rows."""
    out = {}
    for report in HEADERS:
        rows = [r for i in batch["inputs"] if i["report"] == report for r in i["rows"]]
        good = [r for r in rows if r[1] != "reject"]
        if report == BPD:
            kept = [(day, "b%d" % batch["batch"]) for _, _, day, _ in good]
        else:
            # keep-last per dedup key; a key's re-issues share its day
            kept = list({key: (day, "b%d" % batch["batch"])
                         for _, _, day, key in good}.values())
        per_day = Counter(day.isoformat() for day, _ in kept)
        out[report] = {
            "read": len(rows), "kept": len(kept), "duplicates": len(good) - len(kept),
            "rejects": len(rows) - len(good),
            "kept_per_day": dict(sorted(per_day.items())),
        }
    return out


def expected(manifest):
    """The oracle: every count the artifacts of the timed run must show.

    `target` is the final per-day state of each loaded table, as
    {report: {day: [rows, batch marker]}}; over an earlier load, the earlier batch's
    days the timed batch does not touch keep the earlier rows.
    """
    target, audit = defaultdict(dict), Counter()
    for batch in manifest["batches"]:
        counts = _batch_counts(batch)
        for report, c in counts.items():
            for day, n in c["kept_per_day"].items():
                target[report][day] = [n, "b%d" % batch["batch"]]
                audit[(report, day)] += 1
    timed = manifest["batches"][-1]
    return {
        "reports": _batch_counts(timed),
        "audit_rows": sum(len(c["kept_per_day"]) for c in _batch_counts(timed).values()),
        "audit_total": sum(audit.values()),
        "audit_per_day": {"%s|%s" % k: v for k, v in sorted(audit.items())},
        "archived_files": timed["files"],
        "target": {r: dict(sorted(d.items())) for r, d in target.items()},
    }


def shape(manifest):
    """The timed batch's input shape, as recorded in spec.json."""
    timed = manifest["batches"][-1]
    rows = [r for i in timed["inputs"] for r in i["rows"]]
    days = {r[2] for r in rows}
    return {
        "files": timed["files"], "sheets": len(timed["inputs"]),
        "data_rows": len(rows), "bytes": timed["bytes"], "days": len(days),
        "duplicate_share": round(sum(r[1] == "dup" for r in rows) / len(rows), 4),
        "reject_share": round(sum(r[1] == "reject" for r in rows) / len(rows), 4),
    }
