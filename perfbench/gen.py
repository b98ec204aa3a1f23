"""Seeded input generators for the benchmark.

Two kinds of input, both pure functions of (seed, size):

* ``workbook`` writes a multi-sheet .xlsx package with its own zip +
  SpreadsheetML writer (never the engine's XlsxSink) and returns the
  expected converted rows as a row count plus an order-sensitive digest.
* ``fixtures`` writes the ten-table parquet schema of TESTDATA.md at a
  given scale factor, with the same column types, value domains and
  near-duplicate document structure as the committed test tables.
"""

import hashlib
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# Workbook
# ---------------------------------------------------------------------------

HEADER = ["id", "name", "city", "amount", "qty", "note", "code", "flag",
          "day", "score", "tag", "comment"]
NAMES = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
         "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron"]
CITIES = ["Oslo", "Lima", "Kyiv", "Rome", "Doha", "Bern", "Baku", "Riga",
          "Suva", "Male", "Apia", "Nuuk"]
# cell text avoids commas, quotes, backslashes, newlines and edge spaces so
# the chunked-CSV output reads back without a CSV dialect; &, < and > stay
# in to exercise XML escaping on both the read and the write side
WORDS = ["red", "green", "blue", "fast", "slow", "R&D", "a<b", "c>d", "x_y",
         "tax", "net", "gross", "Q1", "Q2", "Q3", "Q4"]

ROW_SEP = b"\x1e"
CELL_SEP = b"\x1f"


def _col(i):
    s = ""
    n = i + 1
    while n > 0:
        n, r = divmod(n - 1, 26)
        s = chr(65 + r) + s
    return s


COLS = [_col(i) for i in range(len(HEADER))]


def _esc(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _sheet_rows(rng, n_rows):
    """Rows of 12 display strings ("" = blank cell) plus a per-cell kind:
    0 blank, 1 number, 2 shared string, 3 inline string, 4 boolean."""
    ids = np.arange(1, n_rows + 1)
    name_i = rng.integers(0, len(NAMES), n_rows)
    city_i = rng.integers(0, len(CITIES), n_rows)
    amount = rng.integers(-500000, 5000000, n_rows)
    qty = rng.integers(0, 1000, n_rows)
    note_blank = rng.random(n_rows) < 0.3
    note_a = rng.integers(0, len(WORDS), n_rows)
    note_b = rng.integers(0, len(WORDS), n_rows)
    code = rng.integers(0, 400, n_rows)
    flag = rng.integers(0, 2, n_rows)
    day = rng.integers(0, 3650, n_rows)
    score = rng.integers(0, 10 ** 6, n_rows)
    tag_blank = rng.random(n_rows) < 0.5
    tag = rng.integers(0, 40, n_rows)
    com_blank = rng.random(n_rows) < 0.7
    com = rng.integers(0, len(WORDS), n_rows)
    empty_row = rng.random(n_rows) < 0.002
    base = np.datetime64("2015-01-01")
    rows = []
    for r in range(n_rows):
        if empty_row[r]:
            rows.append(None)
            continue
        a = int(amount[r])
        rows.append((
            (1, str(int(ids[r]))),
            (2, NAMES[name_i[r]]),
            (2, CITIES[city_i[r]]),
            (1, ("-" if a < 0 else "") + "%d.%02d" % divmod(abs(a), 100)),
            (1, str(int(qty[r]))),
            (0, "") if note_blank[r] else (3, WORDS[note_a[r]] + " " + WORDS[note_b[r]]),
            (2, "C%03d" % code[r]),
            (4, "TRUE" if flag[r] else "FALSE"),
            (3, str(base + np.timedelta64(int(day[r]), "D"))),
            (1, "%d.%06d" % divmod(int(score[r]), 10 ** 6)),
            (0, "") if tag_blank[r] else (2, "tag%02d" % tag[r]),
            (0, "") if com_blank[r] else (3, "see " + WORDS[com[r]]),
        ))
    return rows


def _sheet_xml(rows, shared, shared_idx, header=True):
    out = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<worksheet xmlns="http://schemas.openxmlformats.org/'
           'spreadsheetml/2006/main"><sheetData>']
    r = 1
    if header:
        cells = "".join(
            '<c r="%s1" t="inlineStr"><is><t>%s</t></is></c>' % (COLS[i], h)
            for i, h in enumerate(HEADER))
        out.append('<row r="1">%s</row>' % cells)
        r = 2
    for row in rows:
        if row is None:
            # an all-blank row: present in the sheet, dropped by the reader
            out.append('<row r="%d"><c r="A%d"/></row>' % (r, r))
            r += 1
            continue
        cells = []
        for i, (kind, v) in enumerate(row):
            ref = "%s%d" % (COLS[i], r)
            if kind == 0:
                if i == 5:  # explicit empty cell; the others are sparse gaps
                    cells.append('<c r="%s"/>' % ref)
            elif kind == 1:
                cells.append('<c r="%s"><v>%s</v></c>' % (ref, v))
            elif kind == 2:
                j = shared_idx.get(v)
                if j is None:
                    j = shared_idx[v] = len(shared)
                    shared.append(v)
                cells.append('<c r="%s" t="s"><v>%d</v></c>' % (ref, j))
            elif kind == 3:
                cells.append('<c r="%s" t="inlineStr"><is><t>%s</t></is></c>'
                             % (ref, _esc(v)))
            else:
                cells.append('<c r="%s" t="b"><v>%d</v></c>'
                             % (ref, 1 if v == "TRUE" else 0))
        out.append('<row r="%d">%s</row>' % (r, "".join(cells)))
        r += 1
    out.append("</sheetData></worksheet>")
    return "".join(out)


def expected_digest(rows):
    """(row count, sha256) over the converted rows in sheet order: cells
    joined by 0x1f, rows terminated by 0x1e, all-blank rows dropped."""
    h = hashlib.sha256()
    n = 0
    for row in rows:
        if row is None:
            continue
        h.update(CELL_SEP.join(v.encode("utf-8") for _, v in row))
        h.update(ROW_SEP)
        n += 1
    return n, h.hexdigest()


def workbook(path, seed, n_rows):
    """Write a three-sheet workbook whose large sheet "Data" sits between two
    small decoys, and return (sheet name, header, rows, sha256)."""
    rng = np.random.default_rng([seed, 1])
    data = _sheet_rows(rng, n_rows)
    shared, shared_idx = [], {}
    decoy_a = _sheet_xml(_sheet_rows(rng, 50), shared, shared_idx)
    big = _sheet_xml(data, shared, shared_idx)
    decoy_b = _sheet_xml(_sheet_rows(rng, 20), shared, shared_idx, header=False)
    # the data sheet is the SECOND sheet but lives in sheet3.xml: targets
    # resolve through workbook.xml.rels, not by position
    sheets = [("Summary", "sheet1.xml", decoy_a), ("Data", "sheet3.xml", big),
              ("Notes", "sheet2.xml", decoy_b)]
    sst = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
           '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/'
           'main" count="%d" uniqueCount="%d">' % (len(shared), len(shared))]
    sst += ["<si><t>%s</t></si>" % _esc(s) for s in shared]
    sst.append("</sst>")
    ns = "http://schemas.openxmlformats.org"
    ct = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<Types xmlns="%s/package/2006/content-types">' % ns,
          '<Default Extension="rels" ContentType="application/'
          'vnd.openxmlformats-package.relationships+xml"/>',
          '<Default Extension="xml" ContentType="application/xml"/>',
          '<Override PartName="/xl/workbook.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>',
          '<Override PartName="/xl/sharedStrings.xml" ContentType="application/'
          'vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/>']
    ct += ['<Override PartName="/xl/worksheets/%s" ContentType="application/'
           'vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
           % f for _, f, _ in sheets]
    ct.append("</Types>")
    wb = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
          '<workbook xmlns="%s/spreadsheetml/2006/main" xmlns:r="%s/'
          'officeDocument/2006/relationships"><sheets>' % (ns, ns)]
    wb += ['<sheet name="%s" sheetId="%d" r:id="rId%d"/>' % (n, i + 1, i + 1)
           for i, (n, _, _) in enumerate(sheets)]
    wb.append("</sheets></workbook>")
    rel = "%s/officeDocument/2006/relationships" % ns
    rels = ['<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
            '<Relationships xmlns="%s/package/2006/relationships">' % ns]
    rels += ['<Relationship Id="rId%d" Type="%s/worksheet" Target="worksheets/%s"/>'
             % (i + 1, rel, f) for i, (_, f, _) in enumerate(sheets)]
    rels.append('<Relationship Id="rId9" Type="%s/sharedStrings" '
                'Target="sharedStrings.xml"/>' % rel)
    rels.append("</Relationships>")
    root_rels = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>\n'
                 '<Relationships xmlns="%s/package/2006/relationships">'
                 '<Relationship Id="rId1" Type="%s/officeDocument" '
                 'Target="xl/workbook.xml"/></Relationships>' % (ns, rel))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as z:
        z.writestr("[Content_Types].xml", "".join(ct))
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", "".join(wb))
        z.writestr("xl/_rels/workbook.xml.rels", "".join(rels))
        z.writestr("xl/sharedStrings.xml", "".join(sst))
        for _, f, xml in sheets:
            z.writestr("xl/worksheets/" + f, xml)
    n, digest = expected_digest(data)
    return {"sheet": "Data", "header": HEADER, "rows": n, "sha256": digest}


# ---------------------------------------------------------------------------
# Ten-table fixtures (TESTDATA.md schema)
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
VOCAB = ["fast", "spark", "line", "small", "customer", "group", "row", "the",
         "query", "stream", "key", "agg", "scan", "slow", "table", "part", "a",
         "merge", "window", "order", "column", "join", "vector", "value",
         "hash", "batch", "sort", "data", "big", "filter"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d * 86400 * 10 ** 6, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def fixture_tables(seed, sf):
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150000 * sf)
    n_supp = int(10000 * sf)
    n_part = int(200000 * sf)
    n_ord = int(1500000 * sf)
    n_line = int(6000000 * sf)
    n_ev = int(1000000 * sf)
    n_users = int(15000 * sf)
    n_docs = max(500, int(50000 * sf))
    n_emb = max(500, int(20000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array(["NATION_%d" % i for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            np.asarray(ADJ)[rng.integers(0, 8, n_part)], " "),
            np.asarray(NOUN)[rng.integers(0, 8, n_part)]).astype(object), pa.string()),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10 ** 6
    ts = np.sort(start + rng.integers(0, span, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)])})
    texts = []
    dup_of = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        if dup_of[i] and i > 0:
            # near-duplicate: an earlier document plus one extra token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), n_words)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": pa.array(["src%d" % s for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def fixtures(directory, seed, sf):
    """Write the ten tables as <directory>/<table>.parquet."""
    os.makedirs(directory, exist_ok=True)
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(directory, name + ".parquet"))
