"""Seeded input generator and expected-outcome ledger for the benchmark.

Everything the engine reads is made here, from numbers alone:

* ``tables`` (in tables.py): the star-schema tables the query registry
  and the consolidation store seed read.
* ``consolidate``: staged landing workbooks (simple CSV, mixed-format CSV,
  rows for .xlsx files) derived from lineitem keys, with planted invalid
  rows, store overlaps, re-deliveries and one schema-invalid file, plus a
  ledger of what insert-only consolidation must produce.
* ``stream``: canonical CSV files for the streaming host and its ledger.

The ledger is computed here, independently of the engine, by replaying the
documented semantics: row validation first, then first-wins dedup by row
ordinal, then an anti-join against the keys already in the store.
"""
import csv
import os
import random

from tables import store_seed

# ---- staged workbooks ----------------------------------------------------

SIMPLE_HEADERS = ["N° Factura", "N° Referencia", "Transportista",
                  "Fecha Factura", "Descripción", "Monto Neto", "IVA",
                  "Monto Total", "Moneda"]
MIXED_HEADERS = ["Fecha Servicio", "Órdenes de Embarque", "Guías de Despacho",
                 "Flete($)", "Porteo($)", "Total Servicio ($)",
                 "Observaciones"]
CARRIERS = ["Transportes Andes", "Logistica Sur", "Carga Pacifico",
            "Fletes del Norte"]


def _money(cents):
    """Two decimals always: a single dot with three trailing digits would
    read as a Chilean thousands separator."""
    return f"{cents // 100}.{cents % 100:02d}"


class Store:
    """The insert-only store as the ledger sees it: key -> total in cents."""

    def __init__(self, seed_totals):
        self.totals = dict(seed_totals)
        self.keys = list(seed_totals)  # insertion order, for seeded picks
        self.cents = sum(seed_totals.values())

    @property
    def rows(self):
        return len(self.totals)

    def pick(self, rng, used):
        """A stored key not yet used in the current file."""
        for _ in range(20):
            k = self.keys[rng.randrange(len(self.keys))]
            if k not in used:
                return k
        return None

    def merge(self, rows):
        """rows: (row_index, key, cents, valid). Valid rows dedup first-wins
        by row index, then insert when the key is not stored yet. Returns
        the (insert, unchanged, validation_error) counts."""
        ins = unch = err = 0
        for _, key, cents, valid in sorted(rows, key=lambda x: x[0]):
            if not valid:
                err += 1
            elif key in self.totals:
                unch += 1
            else:
                ins += 1
                self.totals[key] = cents
                self.keys.append(key)
                self.cents += cents
        return ins, unch, err


def _write_rows(path, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        csv.writer(f, quoting=csv.QUOTE_ALL).writerows(rows)


def _row_values(rng, store, used, tag, j, overlap):
    """Key and money of one invoice line. Overlapping lines re-send a stored
    key with its stored total, as a re-sent invoice does; reconciliation
    rejects a file whose re-sent amounts differ."""
    key = store.pick(rng, used) if overlap and store.keys else None
    if key is not None:
        total = store.totals[key]
        net, tax = total, 0
    else:
        key = (f"{tag}-{j // 4}", f"R{j % 4 + 1}")
        net = rng.randrange(2_000_000, 90_000_000)
        tax = net * 19 // 100
        total = net + tax
    used.add(key)
    return key, net, tax, total


def _simple_rows(rng, tag, n, store, bad_share):
    """Rows of a simple-tabular sheet: (ledger row, sheet cells)."""
    used, rows = set(), []
    for j in range(n):
        (inv, ref), net, tax, total = _row_values(rng, store, used, tag, j,
                                                  rng.random() < 0.2)
        r = dict(inv=inv, ref=ref, carrier=rng.choice(CARRIERS),
                 date=f"{rng.randrange(1, 29):02d}-{rng.randrange(1, 13):02d}-2026",
                 desc=f"Flete {j}", net=_money(net), tax=_money(tax),
                 total=_money(total))
        valid = True
        if rng.random() < bad_share:
            valid = False
            kind = rng.randrange(5)
            if kind == 0:
                r["date"] = "31-13-2026"
            elif kind == 1:
                r["total"] = "N/A"
            elif kind == 2:
                r["carrier"] = ""
            elif kind == 3:
                r["ref"] = ""
            else:  # net + tax off by two pesos: beyond the 1-peso tolerance
                r["total"] = _money(total + 200)
        rows.append(((12 + j, (inv, ref), total, valid),
                     [r["inv"], r["ref"], r["carrier"], r["date"], r["desc"],
                      r["net"], r["tax"], r["total"], "CLP"]))
    return rows


def _simple_sheet(cells, headers=SIMPLE_HEADERS):
    pad = [[""] * len(headers) for _ in range(10)]
    # a blank invoice number ends the table; the footer after it is ignored
    tail = [[""] * len(headers),
            ["", "", "", "", "Totales", "", "", "0", ""]]
    return pad + [headers] + cells + tail


def _mixed_sheet(rng, tag, n, bad_share):
    """One invoice per file: header cells plus a detail table. Returns the
    sheet and its ledger rows."""
    inv = f"{tag}-M"
    cells = [[""] * 10 for _ in range(10)]
    cells[2][6] = f"{rng.randrange(1, 29):02d}-{rng.randrange(1, 13):02d}-2026"
    cells[3][5] = "Aprobado por: Control Bench"
    cells[5][2] = rng.choice(CARRIERS)
    cells[5][7] = "MSC BENCH"
    cells[7][2] = inv
    sheet = cells + [MIXED_HEADERS + ["", "", ""]]
    ledger = []
    for j in range(n):
        flete = rng.randrange(10000, 500000)
        porteo = rng.randrange(0, 50000)
        if rng.random() < bad_share:
            flete = -flete - porteo - 1  # negative total
        sheet.append(["01-02-2026", f"OE-{j}", f"G-{j}", str(flete),
                      str(porteo), "", "", "", "", ""])
        total = flete + porteo
        ledger.append((12 + j, (inv, f"OE-{j}"), total * 100, total >= 0))
    # an empty row and a summary row: both dropped before extraction
    sheet.append([""] * 10)
    sheet.append(["TOTAL NETO", "OE-X", "", "", "", "", "", "", "", ""])
    return sheet, ledger


BASE_MTIME_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z


def consolidate(out, table_dir, seed, n_ops, rows_per_file, warm_rows):
    """Write landing inputs and the ledger for ``n_ops`` pipeline runs.

    Files land in ``out/inputs``; ``out/plan.tsv`` has one line per run:
    ``op  files  redelivered  schema_invalid  status  inserted  unchanged
    validation_errors``, where files are ``name@mtime_ms`` entries.
    ``out/expect.tsv`` holds the final store expectations.
    """
    rng = random.Random(seed)
    seed_totals = store_seed(table_dir)
    store = Store(seed_totals)
    inputs = os.path.join(out, "inputs")
    os.makedirs(inputs, exist_ok=True)
    # warm-up file: all rows new and valid, run once in set-up
    warm_mtime = BASE_MTIME_MS - 3_600_000
    warm = _simple_rows(random.Random(seed + 7), f"W{seed}", warm_rows,
                        Store({}), 0.0)
    _write_rows(os.path.join(inputs, "warm.csv"),
                _simple_sheet([c for _, c in warm]))
    w_ins, w_unch, w_err = store.merge([l for l, _ in warm])
    lines, done = [], [f"warm.csv@{warm_mtime}"]
    # every run has the same shape, so that seeds vary content, not cost:
    # the kinds cycle (the warm-up run is simple CSV, so the first two
    # measured runs cover the other two), the schema-invalid file rides
    # along with run 0 and every third run from run 1 on re-delivers an
    # earlier file
    bad_op = 0
    totals = [w_ins, w_unch, w_err]
    for op in range(n_ops):
        kind = ["xlsx", "mixed", "simple"][op % 3]
        tag = f"S{seed}-{op}"
        name = f"op{op:03d}_{kind}" + (".xlsx" if kind == "xlsx" else ".csv")
        if kind == "mixed":
            sheet, led = _mixed_sheet(rng, tag, rows_per_file, 0.03)
        else:
            rows = _simple_rows(rng, tag, rows_per_file, store, 0.03)
            sheet, led = _simple_sheet([c for _, c in rows]), [l for l, _ in rows]
        _write_rows(os.path.join(inputs, name + (".rows.csv" if kind == "xlsx"
                                                 else "")), sheet)
        counts = store.merge(led)
        totals = [a + b for a, b in zip(totals, counts)]
        files = [f"{name}@{BASE_MTIME_MS + op * 60_000}"]
        redelivered = schema_bad = "-"
        status = "SUCCESS"
        if op % 3 == 1:
            redelivered = rng.choice(done)
            files.append(redelivered)
        if op == bad_op:
            schema_bad = f"op{op:03d}_badschema.csv"
            hdr = [h if h != "Monto Total" else "Monto Bruto"
                   for h in SIMPLE_HEADERS]
            _write_rows(os.path.join(inputs, schema_bad), _simple_sheet(
                [c for _, c in _simple_rows(rng, tag + "B", 5, Store({}), 0.0)],
                hdr))
            files.append(f"{schema_bad}@{BASE_MTIME_MS + op * 60_000 - 1000}")
            status = "PARTIAL"
        done.append(files[0])
        lines.append("\t".join([str(op), ",".join(files),
                                redelivered.split("@")[0], schema_bad, status]
                               + [str(c) for c in counts]))
    with open(os.path.join(out, "plan.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    _write_expect(out, {
        "store_rows": store.rows, "store_cents": store.cents,
        "seed_rows": len(seed_totals), "warm_inserted": w_ins,
        "warm_mtime_ms": warm_mtime,
        "insert": totals[0], "unchanged": totals[1],
        "validation_error": totals[2]})


STREAM_HEADER = ["invoice_number", "reference_number", "carrier_name",
                 "ship_name", "dispatch_guides", "invoice_date",
                 "description", "net_amount", "tax_amount", "total_amount",
                 "currency", "fecha_recepcion_digital", "aprobado_por",
                 "estado_operaciones", "fecha_aprobacion_operaciones"]


def _stream_rows(rng, tag, n, store, used, bad_share):
    rows, led = [], []
    for j in range(n):
        (inv, ref), net, tax, total = _row_values(rng, store, used, tag, j,
                                                  rng.random() < 0.1)
        carrier = rng.choice(CARRIERS)
        valid = True
        if rng.random() < bad_share:
            valid = False
            k = rng.randrange(3)
            if k == 0:
                carrier = ""
            elif k == 1:
                total += 200  # net + tax off by two pesos
            else:
                ref = ""
        rows.append([inv, ref, carrier, "", "", f"2026-03-{j % 28 + 1:02d}",
                     f"Flete {j}", _money(net), _money(tax), _money(total),
                     "CLP", "", "", "", ""])
        led.append((j, (inv, ref), total, valid))
    return rows, led


def stream(out, seed, n_passes, files_per_pass, rows_per_file, warm_rows):
    """Canonical CSV files for ``n_passes`` AvailableNow passes, and the
    ledger. ``out/plan.tsv``: ``pass  files  store_rows  error_rows``
    (cumulative after the pass, warm-up included)."""
    rng = random.Random(seed)
    inputs = os.path.join(out, "inputs")
    os.makedirs(inputs, exist_ok=True)
    store = Store({})
    errors = 0

    def land(names_rows):
        """One pass: its files form one micro-batch, so overlaps reach only
        keys stored by earlier passes."""
        nonlocal errors
        pending = []
        for name, rows, led in names_rows:
            with open(os.path.join(inputs, name), "w", newline="") as f:
                w = csv.writer(f)
                w.writerow(STREAM_HEADER)
                w.writerows(rows)
            pending += led
            errors += sum(1 for *_, v in led if not v)
        store.merge([(i, k, c, v) for i, (_, k, c, v) in enumerate(pending)])

    used = set()
    wrows, wled = _stream_rows(random.Random(seed + 7), f"W{seed}", warm_rows,
                               Store({}), used, 0.0)
    land([("warm.csv", wrows, wled)])
    lines = [f"warm\twarm.csv\t{store.rows}\t{errors}"]
    for p in range(n_passes):
        batch, used = [], set()
        for k in range(files_per_pass):
            name = f"p{p:03d}_{k}.csv"
            rows, led = _stream_rows(rng, f"T{seed}-{p}-{k}", rows_per_file,
                                     store, used, 0.03)
            batch.append((name, rows, led))
        land(batch)
        lines.append(f"{p}\t{','.join(n for n, _, _ in batch)}\t"
                     f"{store.rows}\t{errors}")
    with open(os.path.join(out, "plan.tsv"), "w") as f:
        f.write("\n".join(lines) + "\n")
    _write_expect(out, {"store_rows": store.rows, "store_cents": store.cents,
                        "error_rows": errors})


def _write_expect(out, kv):
    with open(os.path.join(out, "expect.tsv"), "w") as f:
        for k, v in kv.items():
            f.write(f"{k}\t{v}\n")
