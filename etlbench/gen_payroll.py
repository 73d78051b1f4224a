"""Seeded input generator for the etlbench payroll workload (pua_workbook).

Writes the folder layout `graft.app.Main.run` scans:

    <root>/pua/PUA_Extract_2025.xlsx        primary extract (shared strings,
                                            date-styled `Calc Date`)
    <root>/pua/CPA_Certifications.xlsx      dead input, matched but unused
    <root>/lookups/TS_Org.csv, TS_Dept.csv, Overtime_E_Class.csv, TE_M.csv,
                   Feeder_List.csv, YTD_Payroll.xlsx
    <root>/lookups/Cert_BW_Extract.csv, Cert_MN_Extract.csv

and returns the same tables in memory as the strings the program's readers
should surface (the oracle's inputs). The hazards FIXTURES.md lists are
planted at the rates in `RATES`: `.0` float artifacts, true nulls next to
literal "nan" strings, duplicate dedup keys, mode ties, COLLEGE values
without a '-', unparseable dates, and cert dates inside and outside the
fiscal year of the fixed clock (2025-03-15 -> FY 2024-07-01 .. 2025-06-30).

The workbook is written the way openpyxl/pandas write one (shared-string
pool, `r` cell references, a custom datetime numFmt on `Calc Date`), not by
the program's own `Xlsx.write`, which only emits inline strings.
"""
import csv
import datetime as dt
import io
import os
import zipfile

import numpy as np

PUA_COLUMNS = [
    "UIN", "Year", "Pay ID", "Pay #", "Seq #", "POSN", "SUFF", "TS COA",
    "TS ORG", "DEPT Code", "Department Name", "College Code", "College Name",
    "ECLS", "ECLS DESC", "TE M", "Earn Code", "DESCRIPTION",
    "ADJ Reason Code", "ADJ Reason DESC", "Calc Date"]
# header spellings the workbook carries for the two ADJ columns (the
# pipeline's alias rename must map them back; ref 256-261)
PUA_HEADER_VARIANTS = {"ADJ Reason Code": "ADj Reason Code",
                       "ADJ Reason DESC": "Adj Reason"}
CERT_COLUMNS = [
    "UIN", "PAY_YEAR", "PAY_ID", "PAY_NBR", "PAY_SEQ", "TRAN_ID",
    "TRAN_COMPNT", "ADJ_REASON", "TRAN_CREATE_DT", "TRAN_CLOSED_DT", "JOB",
    "JOB_TITLE", "JOB_TS_COAS", "JOB_TS_ORGN", "JOB_ECLS", "COLLEGE",
    "OWNING_UIN", "LAST_NAME", "FIRST_NAME", "UI_ENTERPRISE_ID", "EMAIL_ADDR",
    "HRLY_RATE", "RT_LEAVE_DT", "RT_ENTER_DT", "RT_CREATE_DT", "LVL", "ROLE",
    "ACTION", "ROUTED_BY_UIN", "RETURNED_FLAG", "TRAN_ROUTE_DT",
    "ELAPSED_WORK_TIME", "ROUTE_STOP_TIME", "ELAPSED_TRAN_TIME"]
# header cells written with stray whitespace (the CPA header strip, ref 433)
CERT_HEADER_PADS = {"bw": {"UIN": "UIN "}, "mn": {"LAST_NAME": " LAST_NAME"}}
TS_ORG_COLUMNS = ["TS-Org Code", "TS-Org Title"]
TS_DEPT_COLUMNS = ["TS-Org Dept Code", "TS-Org Dept Title"]
OVERTIME_COLUMNS = ["Job Eclass", "Pay ID", "Overtime FLSA",
                    "Job Detail E-Class Long Desc"]
TE_M_COLUMNS = ["UIN Job", "TE M", "Time Entry Method", "Time Entry Type"]

# Input sizes: PUA workbook rows, rows per cert CSV, and distinct `UIN Job`
# values across the certs.
SIZE = {"pua_rows": 5000, "cert_rows": 1000, "uin_jobs": 400}

RATES = {
    "pua_dup_key": 0.10,      # row repeats an earlier row's dedup key
    "dot0": 0.10,             # POSN / DEPT Code carry a ".0" artifact
    "posn_null": 0.01,        # null POSN -> "nan" in Job Number (H2)
    "dept_null": 0.02,        # null DEPT Code -> "nan"
    "dept_nan": 0.01,         # literal "nan" DEPT Code
    "org_null": 0.01,         # null TS ORG -> null TS-Org Code (H3)
    "pad": 0.02,              # value wrapped in spaces (trimmed downstream)
    "college_name_null": 0.03,
    "te_m_null": 0.02,
    "calc_time": 0.05,        # Calc Date with a time of day
    "calc_bad": 0.03,         # unparseable Calc Date string
    "calc_missing": 0.02,     # no Calc Date cell
    "adj_blank": 0.40, "adj_nan": 0.10, "adj_missing": 0.10,
    "cert_in_fy": 0.50,       # TRAN_CREATE_DT inside the fiscal year
    "cert_apply": 0.34,       # ACTION == "3 - Apply"
    "cert_no_hyphen": 0.05,   # COLLEGE without a '-'
    "cert_job_null": 0.01,    # null JOB -> "<uin>-nan"
    "cert_bad_date": 0.01,    # unparseable TRAN_CREATE_DT
    "cert_full_dup": 0.03,    # MN row repeating a BW row verbatim
    "cert_null": 0.02,        # null in an optional cert column
}

COLLEGES = [("KV", "Vet Med"), ("LA", "Liberal Arts"), ("EN", "Engineering"),
            ("LAS", "Sciences"), ("BA", "Business"), ("ED", "Education"),
            ("FA", "Fine Arts"), ("AG", "Agriculture"), ("LW", "Law"),
            ("MD", "Medicine"), ("SW", "Social Work"), ("IS", "Info Sciences"),
            ("MS", "Media"), ("GR", "Graduate College"), ("PH", "Public Health"),
            ("AH", "Applied Health")]
ECLASSES = [("AA", "Academic", "Exempt"), ("AB", "Academic 9mo", "Exempt"),
            ("AL", "Academic Leave", "Exempt"), ("BA", "Civil Service", "NonExempt"),
            ("BB", "Grad", "NonExempt"), ("BC", "Civil Service Hourly", "NonExempt"),
            ("GA", "Grad Assist", None), ("HA", "Hourly", "NonExempt"),
            ("SA", "Student", "NonExempt"), ("TA", "Temp", "NonExempt"),
            ("EX", "Extra Help", "NonExempt"), ("RA", "Research", None)]
TE_METHODS = {"W": ["Web Time", "Web Time", "Web Time", "Mobile"],
              "P": ["Paper"], "E": ["Email", "Web Time"], "K": ["Kiosk"],
              "T": None}  # "T" is planted as an exact Banner/Adams tie
TE_VALUES = ["W", "W", "W", "P", "E", "K", "T", "X"]  # "X" has no mapping
EARN = [("RGS", "Regular Salary"), ("OVT", "Overtime Pay"), ("BON", "Bonus"),
        ("ADJ", "Adjustment"), ("SHD", "Shift Differential"),
        ("LWP", "Leave With Pay"), ("RET", "Retro Pay"), ("STP", "Stipend")]
ADJ = [("LATE", "Late Submission"), ("EXT", "External"), ("COR", "Correction"),
       ("RTR", "Retro")]
LAST = ["Smith", "Johnson", "Lee", "Garcia", "Nguyen", "Patel", "Brown",
        "Kim", "Lopez", "Clark", "Wright", "Young", "Smith, Jr.", "O'Neil"]
FIRST = ["Ann", "Bo", "Cy", "Dee", "Eli", "Fay", "Gus", "Hal", "Ivy", "Jo"]
TITLES = ["Professor", "Lecturer", "Research Assistant", "Accountant",
          "Office Manager", "Professor, Clinical", "Lab Tech", "Advisor"]
ACTIONS_OTHER = ["1 - Route", "2 - Approve", "4 - Return"]

FY_START = dt.date(2024, 7, 1)
FY_END = dt.date(2025, 6, 30)
EXCEL_EPOCH = dt.date(1899, 12, 30)


class Universe:
    """Org/dept/job reference data shared by the extract, certs and lookups."""

    def __init__(self, rng, n_people):
        self.orgs = sorted({(str(rng.choice(["1", "2", "9"])), str(o))
                            for o in rng.choice(np.arange(100, 1000), 200, replace=False)})
        self.depts = [str(d) for d in rng.choice(np.arange(61000, 69999), 250, replace=False)]
        people = []
        uins = rng.choice(np.arange(10_000_000, 99_999_999), n_people, replace=False)
        for u in uins:
            coa, org = self.orgs[rng.integers(len(self.orgs))]
            people.append({
                "uin": "6" + str(u),
                "coa": coa, "org": org,
                "dept": self.depts[rng.integers(len(self.depts))],
                "college": COLLEGES[rng.integers(len(COLLEGES))],
                "ecls": ECLASSES[rng.integers(len(ECLASSES))],
                "te_m": TE_VALUES[rng.integers(len(TE_VALUES))],
                # two distinct jobs, so each `UIN Job` has one TE_M row
                "jobs": [(str(posn), "%02d" % rng.integers(0, 3))
                         for posn in rng.choice(np.arange(10000, 99999), 2, replace=False)],
            })
        self.people = people


def _pad(rng, v):
    return " " + v + " " if rng.random() < RATES["pad"] else v


def _calc_date(rng):
    """(cell, reader string): cell is ("d", serial) or ("s", text) or None."""
    r = rng.random()
    if r < RATES["calc_missing"]:
        return None, None
    if r < RATES["calc_missing"] + RATES["calc_bad"]:
        bad = ["not-a-date", "TBD", "pending"][rng.integers(3)]
        return ("s", bad), bad
    day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 730)))
    serial = (day - EXCEL_EPOCH).days
    if rng.random() < RATES["calc_time"]:
        h, m = int(rng.integers(6, 20)), int(rng.choice([0, 15, 30, 45]))
        frac = (h * 3600 + m * 60) / 86400
        return ("d", repr(serial + frac)), "%s %02d:%02d:00" % (day.isoformat(), h, m)
    return ("d", str(serial)), day.isoformat()


def pua_rows(rng, uni, n):
    """Rows of (cells for the workbook, reader strings for the oracle)."""
    cells, truth, keys = [], [], []
    for i in range(n):
        if i > 0 and rng.random() < RATES["pua_dup_key"]:
            p, year, payid, paynbr, seq, job = keys[rng.integers(len(keys))]
        else:
            p = uni.people[rng.integers(len(uni.people))]
            year = str(rng.choice(["2024", "2025"]))
            payid = str(rng.choice(["MN", "BW"]))
            paynbr = str(rng.integers(1, 25))
            seq = str(rng.integers(0, 3))
            job = p["jobs"][rng.integers(2)]
        keys.append((p, year, payid, paynbr, seq, job))
        posn, suff = job
        if rng.random() < RATES["posn_null"]:
            posn = None
        elif rng.random() < RATES["dot0"]:
            posn = posn + ".0"
        if rng.random() < RATES["dot0"] / 2:
            suff = "0.0" if suff == "00" else suff
        dept = p["dept"]
        r = rng.random()
        if r < RATES["dept_null"]:
            dept = None
        elif r < RATES["dept_null"] + RATES["dept_nan"]:
            dept = "nan"
        elif rng.random() < RATES["dot0"]:
            dept = dept + ".0"
        org = None if rng.random() < RATES["org_null"] else _pad(rng, p["org"])
        ccode, cname = p["college"]
        if rng.random() < RATES["college_name_null"]:
            cname = None
        ecls, edesc, _ = p["ecls"]
        te_m = None if rng.random() < RATES["te_m_null"] else p["te_m"]
        earn, edescr = EARN[rng.integers(len(EARN))]
        r = rng.random()
        if r < RATES["adj_blank"]:
            adj, adjd = "", ""
        elif r < RATES["adj_blank"] + RATES["adj_nan"]:
            adj, adjd = "nan", "nan"
        elif r < RATES["adj_blank"] + RATES["adj_nan"] + RATES["adj_missing"]:
            adj, adjd = None, None
        else:
            adj, adjd = ADJ[rng.integers(len(ADJ))]
        calc_cell, calc_str = _calc_date(rng)
        row = [p["uin"], year, payid, paynbr, seq, posn, suff, p["coa"], org,
               dept, _pad(rng, "Dept " + p["dept"]), ccode, cname, ecls, edesc,
               te_m, earn, edescr, adj, adjd, calc_str]
        truth.append(row)
        cells.append([None if v is None else ("s", v) for v in row[:-1]] + [calc_cell])
    return cells, truth


def _cert_date(rng):
    if rng.random() < RATES["cert_bad_date"]:
        return "unknown"
    if rng.random() < RATES["cert_in_fy"]:
        day = FY_START + dt.timedelta(days=int(rng.integers(0, (FY_END - FY_START).days + 1)))
    elif rng.random() < 0.5:
        day = dt.date(2023, 1, 1) + dt.timedelta(days=int(rng.integers(0, 547)))
    else:
        day = dt.date(2025, 7, 1) + dt.timedelta(days=int(rng.integers(0, 180)))
    if rng.random() < 0.3:  # with a time of day; on FY_END it falls outside
        return "%s %02d:%02d:00" % (day.isoformat(), rng.integers(0, 24), rng.integers(0, 60))
    return day.isoformat()


def cert_rows(rng, uni, n, pool, tran_base):
    rows = []
    for i in range(n):
        p, job = pool[rng.integers(len(pool))]
        jobstr = None if rng.random() < RATES["cert_job_null"] else "%s-%s" % job
        ccode, cname = p["college"]
        if rng.random() < RATES["cert_no_hyphen"]:
            college = ccode + cname.replace(" ", "").upper()
        else:
            college = "%s - %s" % (ccode, cname) if rng.random() < 0.7 else "%s-%s" % (ccode, cname)
        last = LAST[rng.integers(len(LAST))]
        first = FIRST[rng.integers(len(FIRST))]

        def opt(v):
            return None if rng.random() < RATES["cert_null"] else v
        rows.append([
            p["uin"], str(rng.choice(["2024", "2025"])), str(rng.choice(["MN", "BW"])),
            str(rng.integers(1, 25)), str(rng.integers(0, 3)), "T%07d" % (tran_base + i),
            "C%d" % rng.integers(1, 5), opt(ADJ[rng.integers(len(ADJ))][0]),
            _cert_date(rng), opt("2025-%02d-%02d" % (rng.integers(1, 13), rng.integers(1, 29))),
            jobstr, TITLES[rng.integers(len(TITLES))], p["coa"],
            None if rng.random() < RATES["org_null"] else p["org"],
            p["ecls"][0], college, "6%08d" % rng.integers(0, 10**8), last, first,
            (first + last).lower().replace(" ", "").replace(",", "").replace("'", ""),
            opt("%s%s@illinois.edu" % (first.lower(), rng.integers(1, 999))),
            "%.2f" % (15 + rng.random() * 60), opt(None if rng.random() < 0.5 else "2025-01-02"),
            opt("2025-01-01"), opt("2024-12-%02d" % rng.integers(1, 29)),
            str(rng.integers(1, 5)), "R%d" % rng.integers(1, 6),
            "3 - Apply" if rng.random() < RATES["cert_apply"]
            else ACTIONS_OTHER[rng.integers(len(ACTIONS_OTHER))],
            "6%08d" % rng.integers(0, 10**8), str(rng.choice(["Y", "N"])),
            opt("2025-02-%02d" % rng.integers(1, 29)), str(rng.integers(0, 500)),
            str(rng.integers(0, 50)), str(rng.integers(0, 900))])
    return rows


def lookups(rng, uni, uin_jobs):
    ts_org = []
    for coa, org in uni.orgs:
        if rng.random() < 0.85:
            ts_org.append(["%s-%s" % (coa, org), "Org %s %s" % (coa, org)])
            if rng.random() < 0.05:  # duplicate row (J6 dedup)
                ts_org.append(list(ts_org[-1]))
    ts_dept = []
    for coa in ["1", "2", "9"]:
        for d in uni.depts:
            if rng.random() < 0.8:
                ts_dept.append(["%s-%s" % (coa, d), "Dept of %s/%s" % (coa, d)])
    for coa, org in uni.orgs:  # 5-char codes the CPA "Dept TS-Org" prefix hits
        if rng.random() < 0.5:
            ts_dept.append(["%s-%s" % (coa, org), "Dept Prefix %s-%s" % (coa, org)])
    overtime = []
    for code, _, flsa in ECLASSES:
        if flsa is None:
            continue
        for payid in ["MN", "BW"]:
            if code == "SA" and payid == "MN":
                continue  # no composite match for this pair
            overtime.append([code, payid, flsa, "%s %s Long" % (code, payid)])
    te = []
    ties = 0
    for uj, p in uin_jobs:
        if rng.random() < 0.3:
            continue  # UIN Job without a TE_M row
        tm = p["te_m"]
        if tm == "X":
            tm = "W"
        methods = TE_METHODS[tm]
        if methods is None:
            method = ["Banner", "Adams"][ties % 2]
            ties += 1
        else:
            method = methods[rng.integers(len(methods))]
        te.append([uj, tm, method, "Type %s" % "ABC"[rng.integers(3)]])
    if ties % 2:  # keep the "T" group an exact tie
        te.append(["6000000000-00000-00", "T", "Adams", "Type A"])
    te.append([None, "Z", "Zulu", "Type C"])         # null key
    te.append(["6000000001-00000-00", None, "Nope", "Type C"])  # null TE M
    te.append(["6000000002-00000-00", "P", None, "Type C"])     # null method
    return ts_org, ts_dept, overtime, te


# --- writers -----------------------------------------------------------------

def _col_ref(c):
    s = ""
    c += 1
    while c:
        c, r = divmod(c - 1, 26)
        s = chr(65 + r) + s
    return s


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_xlsx(path, header, rows):
    """Workbook with a shared-string pool and datetime-styled serial cells,
    laid out like openpyxl's output. `rows` hold None, ("s", text) or
    ("d", serial)."""
    pool, index = [], {}

    def sid(s):
        i = index.get(s)
        if i is None:
            i = index[s] = len(pool)
            pool.append(s)
        return i
    refs = [_col_ref(c) for c in range(len(header))]
    out = io.StringIO()
    out.write('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
              '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
              '<sheetData>')
    for r, cells in enumerate([[("s", h) for h in header]] + rows, start=1):
        out.write('<row r="%d">' % r)
        for c, cell in enumerate(cells):
            if cell is None:
                continue
            kind, v = cell
            if kind == "s":
                out.write('<c r="%s%d" t="s"><v>%d</v></c>' % (refs[c], r, sid(v)))
            else:
                out.write('<c r="%s%d" s="1"><v>%s</v></c>' % (refs[c], r, v))
        out.write("</row>")
    out.write("</sheetData></worksheet>")
    sst = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
           'count="%d" uniqueCount="%d">' % (len(pool), len(pool))]
    for s in pool:
        space = ' xml:space="preserve"' if s != s.strip() or s == "" else ""
        sst.append("<si><t%s>%s</t></si>" % (space, _esc(s)))
    sst.append("</sst>")
    ns = "http://schemas.openxmlformats.org"
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Types xmlns="%s/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>'
            '<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>'
            '</Types>' % ns,
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="%s/package/2006/relationships">'
            '<Relationship Id="rId1" Type="%s/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>' % (ns, ns),
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<workbook xmlns="%s/spreadsheetml/2006/main" xmlns:r="%s/officeDocument/2006/relationships">'
            '<workbookPr/><sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>' % (ns, ns),
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="%s/package/2006/relationships">'
            '<Relationship Id="rId1" Type="%s/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '<Relationship Id="rId2" Type="%s/officeDocument/2006/relationships/styles" Target="styles.xml"/>'
            '<Relationship Id="rId3" Type="%s/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/>'
            '</Relationships>' % (ns, ns, ns, ns),
        "xl/styles.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<styleSheet xmlns="%s/spreadsheetml/2006/main">'
            '<numFmts count="1"><numFmt numFmtId="164" formatCode="yyyy-mm-dd h:mm:ss"/></numFmts>'
            '<fonts count="1"><font/></fonts><fills count="1"><fill/></fills>'
            '<borders count="1"><border/></borders>'
            '<cellStyleXfs count="1"><xf numFmtId="0"/></cellStyleXfs>'
            '<cellXfs count="2"><xf numFmtId="0" xfId="0"/>'
            '<xf numFmtId="164" xfId="0" applyNumberFormat="1"/></cellXfs>'
            '</styleSheet>' % ns,
        "xl/sharedStrings.xml": "".join(sst),
        "xl/worksheets/sheet1.xml": out.getvalue(),
    }
    # fixed entry timestamps so the same seed gives the same bytes
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as z:
        for name, text in parts.items():
            info = zipfile.ZipInfo(name, date_time=(2025, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, text.encode("utf-8"))


def write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)


def generate(root, seed):
    """Write the inputs for `seed` under `root` and return the oracle's view
    of them: {table: (columns, rows)} with reader strings."""
    rng = np.random.default_rng([seed, 20251015])
    uni = Universe(rng, max(SIZE["pua_rows"] // 6, SIZE["uin_jobs"] // 2))
    cells, pua = pua_rows(rng, uni, SIZE["pua_rows"])
    pool = [(p, job) for p in uni.people[: SIZE["uin_jobs"] // 2] for job in p["jobs"]]
    bw = cert_rows(rng, uni, SIZE["cert_rows"], pool, 0)
    mn = cert_rows(rng, uni, SIZE["cert_rows"], pool, SIZE["cert_rows"])
    for i in range(len(mn)):
        if rng.random() < RATES["cert_full_dup"]:
            mn[i] = list(bw[rng.integers(len(bw))])
    uin_jobs = [("%s-%s-%s" % (p["uin"], *job), p) for p, job in pool]
    ts_org, ts_dept, overtime, te = lookups(rng, uni, uin_jobs)

    pua_dir, lk_dir = os.path.join(root, "pua"), os.path.join(root, "lookups")
    os.makedirs(pua_dir, exist_ok=True)
    os.makedirs(lk_dir, exist_ok=True)
    header = [PUA_HEADER_VARIANTS.get(c, c) for c in PUA_COLUMNS]
    write_xlsx(os.path.join(pua_dir, "PUA_Extract_2025.xlsx"), header, cells)
    write_xlsx(os.path.join(pua_dir, "CPA_Certifications.xlsx"), ["UIN"],
               [[("s", p["uin"])] for p in uni.people[:20]])
    write_xlsx(os.path.join(lk_dir, "YTD_Payroll.xlsx"), header, cells[:200])
    write_csv(os.path.join(lk_dir, "TS_Org.csv"), TS_ORG_COLUMNS, ts_org)
    write_csv(os.path.join(lk_dir, "TS_Dept.csv"), TS_DEPT_COLUMNS, ts_dept)
    write_csv(os.path.join(lk_dir, "Overtime_E_Class.csv"), OVERTIME_COLUMNS, overtime)
    write_csv(os.path.join(lk_dir, "TE_M.csv"), TE_M_COLUMNS, te)
    write_csv(os.path.join(lk_dir, "Feeder_List.csv"), ["Feeder"],
              [["F%03d" % i] for i in range(40)])
    for tag, rows in (("bw", bw), ("mn", mn)):
        head = [CERT_HEADER_PADS[tag].get(c, c) for c in CERT_COLUMNS]
        write_csv(os.path.join(lk_dir, "Cert_%s_Extract.csv" % tag.upper()), head, rows)
    return {
        "pua": (PUA_COLUMNS, pua), "bw": (CERT_COLUMNS, bw), "mn": (CERT_COLUMNS, mn),
        "ts_org": (TS_ORG_COLUMNS, ts_org), "ts_dept": (TS_DEPT_COLUMNS, ts_dept),
        "ot": (OVERTIME_COLUMNS, overtime), "te_m": (TE_M_COLUMNS, te),
    }
