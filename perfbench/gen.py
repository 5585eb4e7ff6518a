"""Deterministic benchmark inputs from a seed (pyarrow + numpy, no JVM).

Two input sets, each a pure function of its seed and size:

* ``tables`` — the star schema every registry query reads (region,
  nation, customer, supplier, part, orders, lineitem, events,
  documents, embeddings), shaped like the engine's TPC-H-style test
  tables: same column names, types and value domains.
* ``exports`` — the reference's daily files, shaped like TPC-H order
  lines (one ventas line per line item of an order placed by a
  customer, at the lineitem/orders/customer ratios of ``tables``): a
  ventas export carrying the reference's dirt (``Status`` column,
  ``$``/thousands/accounting money, junk ``Amount`` cells,
  ``M/d/yyyy`` dates, ~1 % unmapped client names), its ~90 % base cut,
  a cartera and a pending-orders export with trailing-space headers and
  report header/footer junk lines, the ``Clientes`` dimension, and
  ``manifest.json`` with the counts every loader phase must reproduce.

Outputs are cached by key under the work directory; a finished set is
marked by its ``manifest.json``, written last.
"""

from __future__ import annotations

import csv
import datetime
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY0 = datetime.date(1995, 1, 1)
ORDER_DAYS = 2400
VENTAS_HEADER = [
    "Company Name", "Date", "Document Number", "Type", "Item", "Description",
    "Class", "Quantity", "UOM", "Amount", "Created From", "Status",
]
CARTERA_HEADER = [
    "Zones for Financial Reporting ", "Customer:Project ", "Transaction Type ",
    "Date ", "Document Number ", "Due Date ", "Age ", "P.O. No. ", "Open Balance ",
]
PENDING_HEADER = [
    "Customer ", "Amount (Net) ", "Document Number ", "Date ", "Class Item ",
    "Quantity ", "Validated Status ",
]
ZONES = ["Norte", "Sur", "Centro", "Occidente", "Oriente"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
NAME_A = ["Alfa", "Delta", "Sierra", "Rio", "Monte", "Costa", "Valle", "Punta"]
NAME_B = ["Comercial", "Distribuidora", "Farmacia", "Ferreteria", "Mercado", "Tienda"]
NAME_C = ["S.A.", "S.A. de C.V.", "Ltda.", "Inc.", "& Cia."]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """An independent generator per table, so one table's size never
    shifts another table's draws."""
    return np.random.default_rng([seed, *stream.encode()])


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(DAY0.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def write_tables(out: str, seed: int, size: float, docs: int) -> dict:
    """The query star schema at ``size`` (lineitem ≈ 6M × size rows).
    documents/embeddings have ``docs`` rows whatever ``size``: the LLM
    rows replicate them internally, so their cost follows ``docs``."""
    n_cust, n_orders = int(150_000 * size), int(1_500_000 * size)
    n_line, n_part, n_supp = int(6_000_000 * size), int(200_000 * size), max(10, int(10_000 * size))
    n_events, n_docs = int(1_000_000 * size), docs
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    r = _rng(seed, "supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    r = _rng(seed, "part")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    r = _rng(seed, "orders")
    odays = r.integers(0, ORDER_DAYS, n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(odays),
        "o_orderpriority": r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    r = _rng(seed, "lineitem")
    lok = np.sort(r.integers(0, n_orders, n_line))
    # line numbers count up within each order, as TPC-H's do
    starts = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    lnum = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line])) + 1
    qty = r.integers(1, 51, n_line).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": r.choice(["A", "N", "R"], n_line),
        "l_linestatus": r.choice(["F", "O"], n_line),
        "l_shipdate": _ts(odays[lok] + r.integers(1, 122, n_line)),
    })
    r = _rng(seed, "events")
    secs = np.sort(r.uniform(0, 30 * 86400, n_events))
    ev_base = np.datetime64("2024-01-01T00:00:00", "us")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ev_base + (secs * 1e6).astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(2, n_events // 66), n_events), pa.int64()),
        "event_type": r.choice(["click", "error", "purchase", "signup", "view"], n_events),
        "value": np.round(r.exponential(20.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })
    r = _rng(seed, "documents")
    texts = []
    for i in range(n_docs):
        # every 12th doc near-duplicates an earlier one; lengths follow
        # the doc id, not the seed, so the LSH rows' work does not swing
        # with the seed
        if i % 12 == 11:
            texts.append(texts[i - 5] + " dup")
        else:
            texts.append(" ".join(r.choice(WORDS, 40 + i * 13 % 31)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": r.choice(["en", "en", "en", "es", "de", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    r = _rng(seed, "embeddings")
    centers = r.normal(size=(10, 64))
    labels = r.integers(0, 10, n_docs)
    vecs = centers[labels] + r.normal(scale=0.8, size=(n_docs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, t in tables.items():
        _write_parquet(t, os.path.join(out, f"{name}.parquet"))
    return {"kind": "tables", "seed": seed, "size": size, "docs": docs,
            "rows": {n: t.num_rows for n, t in tables.items()}}


def _client_names(n: int) -> list[str]:
    return [f"{NAME_A[i % 8]} {NAME_B[(i // 8) % 6]} {NAME_C[(i // 48) % 5]} {i:05d}" for i in range(n)]


def _money(v: float) -> str:
    return f"{v:,.2f}"


def _mdy(d: int) -> str:
    day = DAY0 + datetime.timedelta(days=int(d))
    return f"{day.month}/{day.day}/{day.year}"


def _write_csv(path: str, header: list[str], rows: list[list[str]],
               junk_head: list[str] = (), junk_foot: list[str] = ()) -> None:
    with open(path, "w", newline="") as f:
        for line in junk_head:
            f.write(line + "\n")
        w = csv.writer(f, lineterminator="\n")
        w.writerow(header)
        w.writerows(rows)
        for line in junk_foot:
            f.write(line + "\n")


def write_exports(out: str, seed: int, size: float) -> dict:
    """The four daily files plus ``Clientes``; returns the manifest."""
    n_cust, n_orders, n_line = int(150_000 * size), int(1_500_000 * size), int(6_000_000 * size)
    r = _rng(seed, "exports")
    names = _client_names(n_cust)
    zone = r.integers(1, 6, n_cust)
    clientes = pa.table({
        "id_cliente": pa.array(np.arange(1, n_cust + 1), pa.int32()),
        "nombre_cliente": names,
        "id_zone": pa.array(zone, pa.int32()),
    })
    _write_parquet(clientes, os.path.join(out, "clientes.parquet"))

    # -- ventas: one export line per order line -------------------------
    ocust = r.integers(0, n_cust, n_orders)
    oday = r.integers(0, ORDER_DAYS, n_orders)
    lok = np.sort(r.integers(0, n_orders, n_line))
    starts = np.r_[0, np.flatnonzero(np.diff(lok)) + 1]
    lnum = np.arange(n_line) - np.repeat(starts, np.diff(np.r_[starts, n_line])) + 1
    part = r.integers(0, int(200_000 * size), n_line)
    qty = r.integers(1, 51, n_line)
    amount = np.round(qty * r.uniform(9.0, 210.0, n_line), 2)
    unmapped = r.random(n_line) < 0.01
    bad_date = r.random(n_line) < 0.003
    money_style = r.choice(4, n_line, p=[0.6, 0.25, 0.05, 0.10])  # plain, $, accounting, junk
    case_style = r.choice(3, n_line, p=[0.8, 0.1, 0.1])
    in_base = r.random(n_line) < 0.9
    rows = []
    for i in range(n_line):
        c = int(ocust[lok[i]])
        if unmapped[i]:
            name = f"Cliente Mostrador {int(lok[i]) % 50:02d}"
        else:
            name = (names[c], names[c].upper(), f"  {names[c]} ")[case_style[i]]
        a = float(amount[i])
        cell = (_money(a).replace(",", ""), f"${_money(a)}", f"({_money(a)})",
                ("#VALUE!", "", "n/a")[i % 3])[money_style[i]]
        rows.append([
            name, "N/A" if bad_date[i] else _mdy(oday[lok[i]]), f"INV-{int(lok[i]):08d}",
            "Invoice", f"{int(part[i]):06d}-{int(lnum[i])}", f"item {int(part[i]) % 97}",
            ("Retail", "Wholesale", "Online")[int(part[i]) % 3], str(int(qty[i])),
            ("EA", "CS", "PK")[int(qty[i]) % 3], cell, f"Sales Order #{int(lok[i])}",
            ("Billed", "Paid")[i % 2],
        ])
    base_rows = [row for row, b in zip(rows, in_base) if b]
    _write_csv(os.path.join(out, "ventas_full.csv"), VENTAS_HEADER, rows)
    _write_csv(os.path.join(out, "ventas_base.csv"), VENTAS_HEADER, base_rows)
    valid = ~unmapped & ~bad_date
    junk_amount = money_style >= 2  # accounting parens and junk both parse to NULL
    ventas = {
        "rows_full": n_line,
        "rows_base": int(in_base.sum()),
        "unmapped_rows_base": int((unmapped & in_base).sum()),
        "unmapped_names_base": len({r_[0] for r_, u, b in zip(rows, unmapped, in_base) if u and b}),
        "bad_dates_base": int((bad_date & in_base).sum()),
        "null_amount_base": int((junk_amount & in_base).sum()),
        "inserted_first": int((valid & in_base).sum()),
        "inserted_rerun": 0,
        "inserted_delta": int((valid & ~in_base).sum()),
        "rows_out_delta": int(valid.sum()),
    }

    # -- cartera: open receivables, report junk around the table --------
    n_ar = n_orders // 3
    ar_cust = r.integers(0, n_cust, n_ar)
    ar_day = r.integers(0, ORDER_DAYS, n_ar)
    ar_bal = np.round(r.uniform(-500.0, 20000.0, n_ar), 2)
    ar_style = r.choice(4, n_ar, p=[0.01, 0.01, 0.01, 0.97])  # walmart-ecom, amazon-ecom, no-customer, named
    crow = []
    for i in range(n_ar):
        c = int(ar_cust[i])
        z, nm = ((("Walmart", "Ecommerce"), ("Amazon", "Ecommerce"),
                  (ZONES[c % 5], "- no customer/project -"))[ar_style[i]]
                 if ar_style[i] < 3 else (ZONES[c % 5], names[c].replace(" ", "  ", 1)))
        b = float(ar_bal[i])
        crow.append([
            z, nm, "Invoice", _mdy(ar_day[i]), f"INV-{i:08d}", _mdy(ar_day[i] + 30),
            str(int(ORDER_DAYS - ar_day[i])), f"PO{i}", f"({_money(-b)})" if b < 0 else f"${_money(b)}",
        ])
    head = ["Rio Jaguar Distribution", "A/R Aging Detail", "As of 12/31/2001", "", "", ""]
    _write_csv(os.path.join(out, "cartera.csv"), CARTERA_HEADER, crow, head, ["TOTAL,,,,,,,,"])
    cartera_rows = int((ar_style == 3).sum())

    # -- pending orders ---------------------------------------------------
    n_po = n_orders // 3
    po_cust = r.integers(0, n_cust, n_po)
    po_unmapped = r.random(n_po) < 0.01
    prow = []
    for i in range(n_po):
        c = int(po_cust[i])
        q = int(r.integers(1, 3000))
        prow.append([
            f"Cliente Mostrador {i % 50:02d}" if po_unmapped[i] else names[c].lower(),
            f"${_money(q * 12.5)}", f"SO-{i:09d}", _mdy(int(r.integers(0, ORDER_DAYS))),
            ("Item", "Service", "")[i % 3], f"{q:,}", ("Validated", "Pending Approval")[i % 2],
        ])
    _write_csv(os.path.join(out, "pending.csv"), PENDING_HEADER, prow,
               ["Rio Jaguar Distribution", "Open Sales Orders", "", "", "", ""], ["TOTAL,,,,,,"])
    return {
        "kind": "exports", "seed": seed, "size": size, "ventas": ventas,
        "cartera": {"rows": n_ar, "snapshot_rows": cartera_rows,
                    "unmapped_names": len(set(ar_style[ar_style < 3].tolist()))},
        "pending": {"rows": n_po, "snapshot_rows": int((~po_unmapped).sum()),
                    "unmapped_names": len({i % 50 for i in np.flatnonzero(po_unmapped)})},
        "clientes": n_cust,
    }


def ensure(kind: str, out: str, seed: int, size: float, **params) -> dict:
    """Generate ``kind`` ('tables' or 'exports') into ``out`` unless a
    finished set with the same parameters is there already; returns its
    manifest."""
    manifest = os.path.join(out, "manifest.json")
    want = {"kind": kind, "seed": seed, "size": size, **params}
    if os.path.exists(manifest):
        with open(manifest) as f:
            m = json.load(f)
        if all(m.get(k) == v for k, v in want.items()):
            return m
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    m = (write_tables if kind == "tables" else write_exports)(out, seed, size, **params)
    with open(manifest + ".tmp", "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    os.replace(manifest + ".tmp", manifest)
    return m

