"""Seeded input generator for the perfbench workloads.

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>

The same (workload, seed) always yields byte-identical files. Besides the
inputs, each workload writes `manifest.json` into the output directory:
the input layout the harness reads, the workload parameters, the input
row and byte counts, and the ground truth the output checks compare
against (the harness itself never reads the truth).
"""

import argparse
import csv
import hashlib
import io
import json
import multiprocessing
import os
import random
import sys
import zipfile

import pyarrow as pa
import pyarrow.parquet as pq

# ---- sizes (one place; README.md quotes them) ------------------------------

# finance_refresh follows the envelope the reference's own run recorded
# (BASELINE.md, "Observed scale / workload envelope", and FIXTURES.md) at
# full column width. The row volumes that drive cost (ViewPoint
# transactions and their duplicates, TRAC agreements) are scaled together
# by FINANCE_SCALE so that a run fits the benchmark's time budget; counts
# of projects and codes are kept. Sizes the reference does not record are
# marked "chosen".
FINANCE_SCALE = 0.2
FINANCE = dict(
    months=3,            # one refresh job per month (chosen: cold + two warm passes)
    window=("2000-01-01", "2025-12-31"),  # the reference's date window, BASELINE.md:18
    dor_projects=194,    # DOR rows inside the window, BASELINE.md:16
    dor_filtered=6,      # DOR rows outside it or undated (chosen), plus a "Total" footer
    dor_header_rows=6,   # junk rows above the DOR header, FIXTURES.md:38
    dor_only=42,         # DOR projects without ViewPoint lines, BASELINE.md:19
                         # (there after the KPOCT/Pedi-Onc exclusion; here before
                         # it, which keeps the match rate near 80%)
    vp_only=3,           # ViewPoint-only service line codes, BASELINE.md:20
    vp_rows=round(28185 * FINANCE_SCALE),  # in-window transactions, BASELINE.md:18
    vp_filtered=0.03,    # share of extra rows outside it or undated (chosen)
    vp_dups=round(1803 * FINANCE_SCALE),   # exact duplicate rows, BASELINE.md:17
    vp_no_code=10,       # transactions without a service line code (chosen)
    vp_parts=(0.4, 0.3, 0.3),  # XLSX, CSV and NDJSON shares of the rows (chosen)
    trac_rows=round(8178 * FINANCE_SCALE),  # 38 columns, BASELINE.md:23, FIXTURES.md:53
    onelink_rows=(900, 1200, 1500),  # three dated snapshots, newest last (chosen)
)
CADENCE = dict(
    base_docs=1500,
    drops=6,             # an untraced run publishes 3, a traced run 6
    drop_docs=300,
    files_per_drop=4,
    maintain_every=2,    # compact + vacuum every this many drops
)

VOCAB_SIZE = 6000
SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "si", "pe", "da",
             "gu", "hi", "zo", "be", "fa", "ji", "ku", "wa", "yo", "xe"]


def vocabulary():
    rng = random.Random(12345)
    words, seen = [], set()
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


# ---- file writers (deterministic bytes) ------------------------------------

def write_bytes(path, data):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(data)


def csv_text(header, rows, line_end="\n"):
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator=line_end)
    w.writerow(header)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    return buf.getvalue()


def xlsx_bytes(preamble, header, rows, numeric_cols=(), sheet="Sheet1"):
    """A one-sheet workbook named `sheet`: `preamble` title rows above the
    header row, inline-string cells, numeric cells for `numeric_cols`."""
    def esc(s):
        if "&" in s or "<" in s or ">" in s or '"' in s:
            s = (s.replace("&", "&amp;").replace("<", "&lt;")
                 .replace(">", "&gt;").replace('"', "&quot;"))
        return s

    def col_letters(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    out = []
    all_rows = [[p] for p in preamble] + [header] + rows
    letters = [col_letters(i) for i in range(max(len(r) for r in all_rows))]
    for ri, r in enumerate(all_rows, start=1):
        cells = []
        is_data = ri > len(preamble) + 1
        for ci, v in enumerate(r):
            if v is None or v == "":
                continue
            ref = f"{letters[ci]}{ri}"
            if is_data and ci in numeric_cols and _is_number(v):
                cells.append(f'<c r="{ref}"><v>{v}</v></c>')
            else:
                cells.append(f'<c r="{ref}" t="inlineStr"><is><t>{esc(str(v))}</t></is></c>')
        out.append(f'<row r="{ri}">{"".join(cells)}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             f'<sheetData>{"".join(out)}</sheetData></worksheet>')
    parts = [
        ("[Content_Types].xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
         '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
         '<Default Extension="xml" ContentType="application/xml"/>'
         '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
         '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
         '</Types>'),
        ("_rels/.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
         '</Relationships>'),
        ("xl/workbook.xml",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
         'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
         '<sheets><sheet name="' + esc(sheet) + '" sheetId="1" r:id="rId1"/></sheets></workbook>'),
        ("xl/_rels/workbook.xml.rels",
         '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
         '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
         '</Relationships>'),
        ("xl/worksheets/sheet1.xml", sheet),
    ]
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
        for name, content in parts:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            z.writestr(info, content.encode("utf-8"), compresslevel=1)
    return buf.getvalue()


def _is_number(v):
    try:
        float(v)
        return True
    except (TypeError, ValueError):
        return False


def write_parquet(path, table, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy",
                   row_group_size=row_group_size)


# ---- finance_refresh --------------------------------------------------------

JUNK_DATES = ["TBD", "n/a", "pending"]
JUNK_AMOUNTS = ["N/A", "pending"]
PROGRAMS = ["Cardiology", "Neurology", "Oncology", "Pulmonary", "KPOCT", "Pedi-Onc"]

# column vocabularies, in the reference's order
DOR_COLUMNS = [  # FIXTURES.md §2; the expense/variance tail is chosen
    "Project ID", "Project Title", "Program Area", "Funder Type",
    "Principal Investigator (PI)", "Award Term Start Date", "Project Status",
    "Total Cash Receipts", "Total Direct Expenses ", "Total Direct Payments Received",
    "Total Indirect Expenses", "Total Expenses", "Budget", "Variance"]
VP_COLUMNS = [  # FIXTURES.md §1: 44 columns; the CSV export adds "Unnamed: 0"
    "Transaction Created Date", "Accountable Completed Date", "Aging Date",
    "Accountable ID", "Payment Date", "Transaction Line Item Type", "Transaction Line Item",
    "Protocol Version", "Holdback Percentage", "Holdback Amount", "Invoiceable (Yes / No)",
    "Payment ID", "Provider", "Vendor", "Vendor Code", "Account Code", "Sub Account Code",
    "Department Code", "Study Account Code", "Service Line Code", "Grant Code",
    "Site Account Code", "Network Revenue Expense Code", "Activity Code",
    "Transaction Amount", "Payment Amount", "Patient Name", "Patient MRN",
    "Routine Care (Yes / No)", "Transaction Type", "Ledger Entry Type", "AR/AP Status",
    "Site Name", "Site Study Code", "Subject ID", "Sponsor Study ID", "CRO Name",
    "Visit Name", "Participant Protocol Arm", "Visit Location", "Event Name",
    "Sponsor Name", "Principal Investigators", "Lead Coordinators"]
TRAC_COLUMNS = [  # FIXTURES.md §3: 38 columns
    "StudyId", "AgreementId", "SequenceNum", "RegionDesc", "StudyTitle", "PI", "ProjectID",
    "FundingTypeDesc", "FundingSourceDesc", "KPRecipientTypeDesc", "ReferenceNum",
    "SubRecipientDesc", "SubcontractNum", "KFRIReferenceNum", "AgreementTypeDesc",
    "AgreementSubTypeDesc", "AgreementSignatoryTypeDesc", "Master_SequenceNum",
    "AgreementSubRecipientDesc", "SubRegion_PI", "IssueDate", "UniformGuidanceTypeDesc",
    "UniformGuidanceSubTypeDesc", "CollaboratorSentDate", "NewFundsAwarded",
    "TotalCumulativeAwarded", "FinancialImpact", "PerformanceStartDate", "PerformanceEndDate",
    "AuthorizeOfficial", "IsAuthorizedOfficialOverride", "FullyExecutedDate",
    "Agreement_CreatedDate", "Agreement_ClosedDate", "AssignedUsers",
    "AssignedContractNegotiators", "ContractNegotiator_TotalBusinessDays", "TotalBusinessDays"]
ONELINK_COLUMNS = [  # FIXTURES.md §6: 34 columns
    "Unit", "Project", "Activity", "Contract/Award Num", "Proj Type", "PI NUID", "PI Name",
    "Customer/Sponsor Number", "Customer/Sponsor Name", "Customer/Sponsor Type",
    "Primary Customer/Sponsor No.", "Primary Customer/Sponsor Name",
    "Primary Customer/Sponsor Type", "Award Begin Date", "Award End Date", "Ref Awd #",
    "Award Title", "Award/Long Descr", "Project Title", "Budget Category", "FA Base",
    "FA Rate %", "From Accounting Dt", "To Accounting Dt", "Institution", "Budget",
    "Prior Expenses", "Current Expenses", "Total Expenses", "Encumbrances",
    "Total Expenses w/ Encumb", "Balances", "% Remaining", "Attr Type"]
assert (len(DOR_COLUMNS), len(VP_COLUMNS), len(TRAC_COLUMNS), len(ONELINK_COLUMNS)) == \
    (14, 44, 38, 34)


def fmt_date(rng, y, m, d):
    """A timestamp string in one of the formats the pipelines coerce."""
    hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    k = rng.randrange(3)
    if k == 0:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if k == 1:
        return f"{y:04d}-{m:02d}-{d:02d} {hh:02d}:{mm:02d}:{ss:02d}"
    return f"{y:04d}-{m:02d}-{d:02d}T{hh:02d}:{mm:02d}:{ss:02d}"


def fields(columns, values):
    """One row's values, one per column."""
    assert len(values) == len(columns), (len(values), len(columns))
    return values


def money(cents):
    return f"{cents // 100}.{cents % 100:02d}"


class FinanceDraws:
    """Seeded draws for one stream of a seed's finance inputs. The phrase
    and date pools are shared by every stream of a seed and keep
    generation cheap."""

    def __init__(self, seed, stream):
        pool_rng = random.Random(f"finance:{seed}")
        vocab = vocabulary()
        self.phrases = {n: [" ".join(pool_rng.choice(vocab) for _ in range(n))
                            for _ in range(2048)] for n in (1, 2, 3, 4, 6)}
        self.inside_dates = [fmt_date(pool_rng, pool_rng.randint(2000, 2025),
                                      pool_rng.randint(1, 12), pool_rng.randint(1, 28))
                             for _ in range(8192)]
        self.outside_dates = [fmt_date(pool_rng, pool_rng.choice((1998, 1999, 2026)),
                                       pool_rng.randint(1, 12), pool_rng.randint(1, 28))
                              for _ in range(256)]
        self.rng = random.Random(f"finance:{seed}:{stream}")

    def words(self, n):
        return self.rng.choice(self.phrases[n])

    def in_window(self):
        return self.rng.choice(self.inside_dates)

    def undated_or_outside(self):
        if self.rng.random() < 0.7:
            return self.rng.choice(self.outside_dates)
        return self.rng.choice(JUNK_DATES + [""])


def gen_finance(seed, out):
    """Every month's files; the months are generated in parallel."""
    p = FINANCE
    d = FinanceDraws(seed, "trac")
    # TRAC agreements: UTF-16 JSON under the TRAC_Data wrapper key; the
    # agreements table changes slowly, so every month reads the same export
    trac = []
    for ti in range(p["trac_rows"]):
        awarded = d.rng.randrange(10**4, 10**8)
        trac.append(dict(zip(TRAC_COLUMNS, fields(TRAC_COLUMNS, [
            d.rng.randrange(10**5), 100000 + ti, str(d.rng.randint(1, 5)),
            d.rng.choice(["NCAL", "SCAL"]), d.words(4), d.words(2),
            f"RNG{d.rng.randrange(10**6):06d}" if d.rng.random() < 0.8 else "Non-Industry",
            d.rng.choice(["Federal", "Industry", "Foundation"]), d.words(1), d.words(1),
            f"REF-{d.rng.randrange(10**6):06d}", d.words(1), f"SC{d.rng.randrange(10**4):04d}",
            f"K{d.rng.randrange(10**5):05d}", d.rng.choice(["Grant", "CTA", "DUA"]), d.words(1),
            d.words(1), str(d.rng.randint(1, 5)), d.words(1), d.words(2), d.in_window(),
            d.words(1), d.words(1), d.in_window(), money(awarded), money(awarded * 2),
            d.rng.choice(["Yes", "No"]), d.in_window(), d.in_window(), d.words(2),
            d.rng.choice(["Y", "N"]), d.in_window() if d.rng.random() < 0.8 else None,
            d.in_window(), d.in_window() if d.rng.random() < 0.3 else None,
            ", ".join(d.words(2) for _ in range(d.rng.randint(1, 3))), d.words(2),
            d.rng.randrange(200), d.rng.randrange(400)]))))
    trac_bytes = json.dumps({"TRAC_Data": trac}, indent=1).encode("utf-16")

    workers = min(p["months"], len(os.sched_getaffinity(0)))
    with multiprocessing.Pool(workers) as pool:
        months = pool.starmap(gen_finance_month, [(seed, mi, out) for mi in range(p["months"])])
    for m in months:
        write_bytes(f"{out}/{m['dir']}/trac.json", trac_bytes)
        m["bytes"] = tree_bytes(f"{out}/{m['dir']}")
        m["rows"] += p["trac_rows"]
    return dict(months=months, vp_columns=VP_COLUMNS, rows=sum(m["rows"] for m in months))


def gen_finance_month(seed, mi, out):
    """One month's DOR, ViewPoint and OneLink files and its truth."""
    p = FINANCE
    d = FinanceDraws(seed, f"m{mi:02d}")
    rng, words, in_window, undated_or_outside = d.rng, d.words, d.in_window, d.undated_or_outside
    phrases, inside_dates = d.phrases, d.inside_dates
    mdir = f"m{mi:02d}"
    start, end = p["window"]

    # DOR statement: in-window projects, filtered rows, a "Total" footer
    codes = [f"RNG{i:06d}" for i in rng.sample(range(1000000),
                                                p["dor_projects"] + p["dor_filtered"]
                                                + p["vp_only"])]
    dor_ids = codes[:p["dor_projects"]]
    filtered_ids = codes[p["dor_projects"]:p["dor_projects"] + p["dor_filtered"]]
    vp_only_ids = codes[p["dor_projects"] + p["dor_filtered"]:]
    dor_rows, dor_clean, footer = [], {}, 0
    for pid in dor_ids + filtered_ids:
        date = in_window() if pid in dor_ids else undated_or_outside()
        cents = rng.randrange(1_000_000, 60_000_000)
        amount = money(cents)
        if rng.random() < 0.03:
            amount, cents = rng.choice(JUNK_AMOUNTS + [""]), 0
        prog = rng.choice(PROGRAMS)
        exp = rng.randrange(100_000, 40_000_000)
        dor_rows.append(fields(DOR_COLUMNS, [pid, words(4), prog, rng.choice(["FEDERAL", "FOUNDATION", "INDUSTRY"]),
                         words(2), date, rng.choice(["A", "C", "E"]), amount, money(exp),
                         money(rng.randrange(cents + 1)), money(exp // 4), money(exp + exp // 4),
                         money(rng.randrange(1_000_000, 90_000_000)),
                         money(rng.randrange(1_000_000))]))
        if pid in dor_ids:
            dor_clean[pid] = (cents, prog)
            footer += cents
    rng.shuffle(dor_rows)
    dor_rows.append(["Total"] + [""] * 6 + [money(footer)] + [""] * 6)
    write_bytes(f"{out}/finance/{mdir}/dor.xlsx", xlsx_bytes(
        ["DOR Monthly Operating Statement", "Summary - DC only", f"Period {start} to {end}",
         "Direct costs only", "", ""][:p["dor_header_rows"]],
        DOR_COLUMNS, dor_rows, numeric_cols=(7, 8, 9, 10, 11, 12, 13),
        sheet="Summary - DC only"))

    # ViewPoint transactions over the matched and ViewPoint-only codes
    matched_ids = rng.sample(dor_ids, p["dor_projects"] - p["dor_only"])
    vp_codes = matched_ids + vp_only_ids
    study = {c: dict(
        protocol=f"v{rng.randint(1, 9)}.{rng.randint(0, 9)}", provider=words(2),
        vendor=words(1), vendor_code=f"V{rng.randrange(10000):04d}",
        sub_account=f"{rng.randrange(1000):03d}", dept=f"D{rng.randrange(100):02d}",
        study_account=f"SA{rng.randrange(100000):05d}", grant=f"G{rng.randrange(10000):04d}",
        site_account=f"ST{rng.randrange(1000):03d}", nrec=f"N{rng.randrange(100):02d}",
        activity=f"A{rng.randrange(1000):03d}", site=words(2),
        site_study=f"#{rng.randrange(100000):05d} ({c})", sponsor_study=f"SP-{rng.randrange(10**6):06d}",
        cro=words(1), location=rng.choice(["Clinic", "Hospital", "Remote"]),
        sponsor=words(2), pis=words(2), coordinators=words(2),
        arms=[f"Arm {a}" for a in "ABC"[:rng.randint(1, 3)]]) for c in vp_codes}
    weights = [0.05 + rng.random() ** 2 for _ in vp_codes]
    n_filtered = int(round(p["vp_rows"] * p["vp_filtered"]))
    kinds = ([True] * p["vp_rows"] + [False] * n_filtered)
    picks = rng.choices(vp_codes, weights, k=len(kinds))
    n = len(kinds)

    def draw(pool, weights=None):  # one seeded draw per transaction
        return rng.choices(pool, weights, k=n)

    cents = draw(range(1_000, 200_000))
    junk = draw((True, False), (2, 98))
    holds = draw((0, 5, 10))
    dates = [draw(inside_dates) for _ in range(4)]
    outside = [undated_or_outside() for _ in range(n_filtered)]
    cols = [draw(pool) for pool in (
        ("AdHoc", "StudyActivity"), phrases[2], ("Yes", "No"),
        ("47205", "47205", "47210", "", "0"), phrases[2], range(10**8), ("Yes", "No"),
        ("Invoice", "Payment", "Credit"), ("AR", "AP"), ("Open", "Paid", "Pending"),
        range(10**5), range(1, 21), phrases[2], range(3))]
    txns, in_win = [], []
    for i, (inside, code) in enumerate(zip(kinds, picks)):
        if inside and i < p["vp_no_code"]:
            code = None
        s = study[code] if code else study[vp_codes[0]]
        c, hold = cents[i], holds[i]
        amount = money(c)
        if junk[i]:
            amount, c = JUNK_AMOUNTS[i % 2], 0
        (item_type, item, invoiceable, account, patient, mrn, routine, txn_type, ledger,
         status, subject, visit, event, arm) = (col[i] for col in cols)
        txns.append(fields(VP_COLUMNS, [
            dates[0][i], dates[1][i] if inside else outside[i - p["vp_rows"]], dates[2][i],
            f"ACC{i:07d}", dates[3][i], item_type, item, s["protocol"], str(hold),
            money(c * hold // 100), invoiceable, f"PAY{i:07d}",
            s["provider"], s["vendor"], s["vendor_code"],
            account, s["sub_account"], s["dept"],
            s["study_account"], code, s["grant"], s["site_account"], s["nrec"], s["activity"],
            amount, money(c * (100 - hold) // 100), patient, f"MRN{mrn:08d}", routine,
            txn_type, ledger, status, s["site"], s["site_study"], f"SUB-{subject:05d}",
            s["sponsor_study"], s["cro"], f"Visit {visit}", s["arms"][arm % len(s["arms"])],
            s["location"], event, s["sponsor"], s["pis"], s["coordinators"]]))
        in_win.append(inside)
    # truth: the reconciliation over the de-duplicated in-window rows
    vp = {}
    for t, inside in zip(txns, in_win):
        if inside and t[19] is not None:
            c = int(t[24].replace(".", "")) if _is_number(t[24]) else 0
            vp[t[19]] = vp.get(t[19], 0) + c
    rng.shuffle(txns)
    n = len(txns)
    cut1 = int(n * p["vp_parts"][0])
    cut2 = cut1 + int(n * p["vp_parts"][1])
    parts = [txns[:cut1], txns[cut1:cut2], txns[cut2:]]
    # exact duplicate rows: distinct coded rows, each copied once into its own file
    coded = [i for i in range(n) if txns[i][19] is not None]
    for idx in rng.sample(coded, p["vp_dups"]):
        part = parts[0 if idx < cut1 else (1 if idx < cut2 else 2)]
        part.insert(rng.randrange(len(part) + 1), list(txns[idx]))
    write_bytes(f"{out}/finance/{mdir}/vp.xlsx", xlsx_bytes(
        ["ViewPoint Transaction export", f"Run for {start} to {end}"], VP_COLUMNS, parts[0],
        numeric_cols=(8, 9, 24, 25), sheet="Transaction"))
    write_bytes(f"{out}/finance/{mdir}/vp_dump.csv", csv_text(
        ["Unnamed: 0"] + VP_COLUMNS,
        [[i] + r for i, r in enumerate(parts[1])]).encode("utf-8"))
    nd = [json.dumps({k: v for k, v in zip(VP_COLUMNS, r) if v is not None})
          for r in parts[2]]
    write_bytes(f"{out}/finance/{mdir}/vp_dump.ndjson",
                ("\n".join(nd) + "\n").encode("utf-8"))

    both = set(dor_clean) & set(vp)
    left = set(dor_clean) - set(vp)
    right = set(vp) - set(dor_clean)
    excl = {"KPOCT", "Pedi-Onc"}
    truth = dict(
        matched=len(both), left_only=len(left), right_only=len(right),
        total_dor=sum(c for c, _ in dor_clean.values()),
        total_vp=sum(vp.values()),
        overlap_dor=sum(dor_clean[i][0] for i in both),
        overlap_vp=sum(vp[i] for i in both),
        dor_only_effective=sum(dor_clean[i][0] for i in left
                               if dor_clean[i][1] not in excl),
        vp_only=sum(vp[i] for i in right),
        dup_report_rows=2 * p["vp_dups"],
    )
    truth["matched_difference"] = truth["overlap_dor"] - truth["overlap_vp"]

    # OneLink UTF-16 snapshots (newest by filename wins)
    ol_projects = [rng.choice(dor_ids) for _ in range(max(p["onelink_rows"]))]
    for si, rows_n in enumerate(p["onelink_rows"]):
        rows = []
        for pid in ol_projects[:rows_n]:
            budget = rng.randrange(100_000, 50_000_000)
            spent = rng.randrange(budget + 1)
            rows.append(fields(ONELINK_COLUMNS, [
                "KFRI", pid, f"{rng.randrange(100):02d}", f"AW{rng.randrange(10**5):05d}",
                rng.choice(["GR", "CT"]), f"N{rng.randrange(10**6):06d}", words(2),
                str(rng.randrange(10**5)), words(2), rng.choice(["FED", "FND", "IND"]),
                f"{rng.randrange(10**5)}.0", words(2), rng.choice(["FED", "FND", "IND"]),
                in_window(), in_window(), f"R{rng.randrange(10**4):04d}", words(3),
                words(6), words(3), rng.choice(["Personnel", "Supplies", "Travel"]),
                rng.choice(["MTDC", "TDC"]), f"{rng.randrange(0, 60)}.0", in_window(),
                in_window(), "KPNC", money(budget), money(spent // 2), money(spent // 4),
                money(spent), money(rng.randrange(10**6)), money(spent + 1000),
                money(budget - spent), f"{100 * (budget - spent) // budget}.0",
                rng.choice(["Direct", "Indirect"])]))
        text = csv_text(ONELINK_COLUMNS, rows, line_end="\r\n")
        write_bytes(f"{out}/finance/{mdir}/onelink/onelink_2025{mi + 1:02d}{5 + 10 * si:02d}.csv",
                    text.encode("utf-16"))

    truth["startup_rows"] = p["onelink_rows"][-1] + p["trac_rows"]
    truth["startup_legacy_rows"] = p["trac_rows"]
    truth["workbook_matched_rows"] = len(both)
    rows = len(dor_rows) + sum(len(x) for x in parts) + sum(p["onelink_rows"])
    return dict(dir=f"finance/{mdir}", start=start, end=end,
                dor_skip_rows=p["dor_header_rows"], vp_skip_rows=2, rows=rows, truth=truth)


# ---- corpus text ------------------------------------------------------------

def doc_tokens(rng, vocab, lo, hi):
    return [rng.choice(vocab) for _ in range(rng.randint(lo, hi))]


def near_copy(rng, vocab, toks):
    """A near duplicate: ~1% of tokens substituted, at least one unless
    the copy is exact (one in five copies is)."""
    out = list(toks)
    if rng.random() < 0.2:
        return out
    for _ in range(max(1, len(out) // 100)):
        out[rng.randrange(len(out))] = rng.choice(vocab)
    return out


def skewed_size(rng):
    r = rng.random()
    if r < 0.70:
        return rng.randint(2, 3)
    if r < 0.93:
        return rng.randint(4, 8)
    if r < 0.99:
        return rng.randint(9, 24)
    return rng.randint(25, 48)


def docs_table(ids, texts):
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts, pa.string())})


# ---- drop_cadence -------------------------------------------------------------

def gen_cadence(seed, out):
    p = CADENCE
    rng = random.Random(f"cadence:{seed}")
    vocab = vocabulary()
    next_id = [0]

    def fresh_ids(n):
        ids = list(range(next_id[0], next_id[0] + n))
        next_id[0] += n
        rng.shuffle(ids)
        return ids

    corpus_texts = []
    # base corpus: singletons plus planted groups
    base = []
    while len(base) < p["base_docs"]:
        if rng.random() < 0.85:
            base.append(doc_tokens(rng, vocab, 40, 140))
        else:
            b = doc_tokens(rng, vocab, 80, 160)
            for _ in range(min(skewed_size(rng), p["base_docs"] - len(base))):
                base.append(near_copy(rng, vocab, b))
    drops = [base]
    corpus_texts.extend(base)
    for _ in range(p["drops"]):
        d = []
        while len(d) < p["drop_docs"]:
            r = rng.random()
            if r < 0.75:
                d.append(doc_tokens(rng, vocab, 40, 140))
            elif r < 0.9:   # near duplicate of an earlier document
                d.append(near_copy(rng, vocab, rng.choice(corpus_texts)))
            else:           # near duplicates within the drop
                b = doc_tokens(rng, vocab, 80, 160)
                d.append(b)
                d.append(near_copy(rng, vocab, b))
        corpus_texts.extend(d)
        drops.append(d)
    out_drops = []
    for di, d in enumerate(drops):
        ids = fresh_ids(len(d))
        nf = p["files_per_drop"]
        files = []
        for fi in range(nf):
            sl = list(range(fi, len(d), nf))
            path = f"cadence/drop{di:02d}/part-{fi:02d}.parquet"
            write_parquet(f"{out}/{path}",
                          docs_table([ids[i] for i in sl], [" ".join(d[i]) for i in sl]))
            files.append(path)
        out_drops.append(dict(files=files, docs=len(d),
                              bytes=sum(os.path.getsize(f"{out}/{f}") for f in files)))
    return dict(drops=out_drops, maintain_every=p["maintain_every"],
                rows=sum(len(d) for d in drops))


# ---- entry point ----------------------------------------------------------------

GENERATORS = {"finance_refresh": gen_finance, "drop_cadence": gen_cadence}


def tree_bytes(d):
    return sum(os.path.getsize(os.path.join(r, n)) for r, _, ns in os.walk(d) for n in ns)


def input_stats(out):
    files, size = 0, 0
    for root, _, names in os.walk(out):
        for n in names:
            if n == "manifest.json":
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def generate(workload, seed, out):
    if workload not in GENERATORS:
        raise SystemExit(f"unknown workload {workload!r}; "
                         f"choose from {sorted(GENERATORS)}")
    os.makedirs(out, exist_ok=True)
    spec = GENERATORS[workload](seed, out)
    files, size = input_stats(out)
    rows = spec["rows"]
    manifest = dict(workload=workload, seed=seed, spec=spec,
                    input_files=files, input_bytes=size, input_rows=rows)
    write_bytes(f"{out}/manifest.json",
                json.dumps(manifest, sort_keys=True, indent=1).encode("utf-8"))
    return manifest


def tree_digest(out):
    h = hashlib.sha256()
    for root, dirs, names in sorted(os.walk(out)):
        dirs.sort()
        for n in sorted(names):
            path = os.path.join(root, n)
            h.update(os.path.relpath(path, out).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps(dict(input_rows=m["input_rows"], input_bytes=m["input_bytes"],
                          input_files=m["input_files"], digest=tree_digest(a.out))))


if __name__ == "__main__":
    main(sys.argv[1:])
