"""Seeded input generation for the benchmark.

Everything the engine reads during a run is written here, from the seed
alone: the same seed gives byte-identical parquet tables and the same
landing tree.

* ``write_tables`` writes a TPC-H-like star schema, ``events``,
  ``documents`` and ``embeddings`` with the same column names, types and
  value distributions as the engine's test corpus, with rows in a
  seed-chosen order.
* ``write_landing`` builds the medallion landing tree: synthetic clients
  that each receive the repository's real bank PDFs, with the seed
  choosing which month each PDF lands in, plus a seed-chosen row subset of
  each real forms CSV.
"""
import csv
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
ADJ = "red new hot small cold large old blue".split()
NOUN = "bolt anvil ring rod plate gear widget gizmo".split()
P_TYPES = "LARGE ECONOMY STANDARD SMALL MEDIUM PROMO".split()
SEGMENTS = "MACHINERY AUTOMOBILE HOUSEHOLD BUILDING FURNITURE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "signup click error view purchase".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

LANDING_REAL = os.path.join("src", "test", "resources", "landing_real")
BANK_ROOT = os.path.join(LANDING_REAL, "01_clientes", "cruz_raulino_familia",
                         "01_bancos")
FORMS_ROOT = os.path.join(LANDING_REAL, "02_forms", "cruz_raulino_familia")
# the monthly batches the landing tree is cut into, oldest first
MONTHS = [(2025, 12), (2026, 1)]


def _write(table, path, rng):
    order = rng.permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), path)


def _days(n):
    return (n * 86_400_000_000).astype("timedelta64[us]")


def write_tables(out_dir, seed, sf, n_docs, n_vecs, only=None):
    """Writes the corpus tables under ``out_dir`` (one parquet each).

    ``sf`` scales the star schema and ``events`` the way the test corpus
    does (lineitem ~6M x sf); ``n_docs``/``n_vecs`` size the text and
    vector fixtures. ``only`` limits the tables written. Returns
    ``{table: rows}``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    want = (lambda t: True) if only is None else (lambda t: t in only)
    rows = {}

    def emit(name, cols):
        table = pa.table(cols)
        rows[name] = table.num_rows
        _write(table, os.path.join(out_dir, f"{name}.parquet"), rng)

    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))

    if want("region"):
        emit("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                        "r_name": REGIONS})
    if want("nation"):
        emit("nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if want("customer"):
        emit("customer", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    if want("supplier"):
        emit("supplier", {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    if want("part"):
        keys = np.arange(n_part)
        emit("part", {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})
    if want("orders") or want("lineitem"):
        odate = np.datetime64("1995-01-01", "us") + _days(rng.integers(0, 2405, n_ord))
        if want("orders"):
            emit("orders", {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": pa.array(odate, pa.timestamp("us")),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
        if want("lineitem"):
            per = rng.integers(1, 8, n_ord)
            okey = np.repeat(np.arange(n_ord), per)
            lno = np.concatenate([np.arange(1, k + 1) for k in per])
            n = len(okey)
            ship = odate[okey] + _days(rng.integers(1, 122, n))
            emit("lineitem", {
                "l_orderkey": pa.array(okey, pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
                "l_linenumber": pa.array(lno, pa.int32()),
                "l_quantity": rng.integers(1, 51, n).astype(np.float64),
                "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
                "l_discount": rng.integers(0, 11, n) / 100.0,
                "l_tax": rng.integers(0, 9, n) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n),
                "l_linestatus": rng.choice(["O", "F"], n),
                "l_shipdate": pa.array(ship, pa.timestamp("us"))})
    if want("events"):
        secs = np.sort(rng.uniform(0, 30 * 86400, n_evt))
        ts = np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]")
        emit("events", {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_cust, n_evt), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(40.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    if want("documents"):
        texts = [" ".join(rng.choice(VOCAB, k)) for k in rng.integers(10, 101, n_docs)]
        # 5% near-duplicates (a copy of another document plus a marker
        # token) and a few exact copies, as in the test corpus
        for i in rng.choice(n_docs, n_docs // 20, replace=False):
            texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
        for i in rng.choice(n_docs, max(1, n_docs // 600), replace=False):
            texts[i] = texts[int(rng.integers(0, n_docs))]
        emit("documents", {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    if want("embeddings"):
        v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        emit("embeddings", {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return rows


def _pdfs():
    """Real PDFs grouped by (bank, doc_type), each list oldest first, as
    (path, landed file name); the name is prefixed with the PDF's own
    yyyymm so two statements of one client never collide in one month."""
    groups = {}
    for dirpath, _, files in sorted(os.walk(BANK_ROOT)):
        for f in sorted(files):
            if f.lower().endswith(".pdf"):
                rel = os.path.relpath(dirpath, BANK_ROOT).split(os.sep)
                groups.setdefault((rel[0], rel[1]), []).append(
                    (os.path.join(dirpath, f), f"{rel[2]}{rel[3]}_{f}"))
    if not groups:
        raise FileNotFoundError(f"no PDFs under {BANK_ROOT}")
    return groups


def write_landing(stage_dir, seed, clients):
    """Builds the landing tree for ``clients`` synthetic clients under
    ``stage_dir/<yyyy>-<mm>/``, one subtree per monthly batch, laid out in
    the reference's convention ``01_clientes/<client>/01_bancos/<bank>/
    <doc_type>/<yyyy>/<mm>/<file>`` and ``02_forms/<client>/<yyyy>/<mm>/``.

    Each client receives every real PDF, each in a seed-chosen month, and
    per month a seed-chosen 60-95% row subset of one real forms CSV.
    Returns a manifest of what landed."""
    rng = np.random.default_rng(seed)
    groups = _pdfs()
    forms = sorted(os.path.join(FORMS_ROOT, f) for f in os.listdir(FORMS_ROOT)
                   if f.endswith(".csv"))
    form_rows = []
    for f in forms:
        with open(f, encoding="utf-8", newline="") as fh:
            form_rows.append(list(csv.reader(fh)))
    manifest = {"batches": [], "pdfs": 0, "pdf_bytes": 0, "forms_rows": 0,
                "bb_out25": []}
    shutil.rmtree(stage_dir, ignore_errors=True)
    for yy, mm in MONTHS:
        manifest["batches"].append({"dir": f"{yy:04d}-{mm:02d}", "year": yy,
                                    "month": mm, "bytes": 0, "pdfs": 0})
    for c in range(clients):
        slug = f"client_{c:03d}"
        for (bank, doc), files in sorted(groups.items()):
            for src, name in files:
                slot = int(rng.integers(0, len(MONTHS)))
                yy, mm = MONTHS[slot]
                b = manifest["batches"][slot]
                dst_dir = os.path.join(stage_dir, b["dir"], "01_clientes", slug,
                                       "01_bancos", bank, doc, f"{yy:04d}",
                                       f"{mm:02d}")
                os.makedirs(dst_dir, exist_ok=True)
                shutil.copyfile(src, os.path.join(dst_dir, name))
                size = os.path.getsize(src)
                b["bytes"] += size
                b["pdfs"] += 1
                manifest["pdfs"] += 1
                manifest["pdf_bytes"] += size
                if os.path.basename(src).endswith("Out_25.pdf"):
                    manifest["bb_out25"].append(slug)
        for b in manifest["batches"]:
            rows = form_rows[int(rng.integers(0, len(form_rows)))]
            body = rows[1:]
            keep = rng.random(len(body)) < rng.uniform(0.6, 0.95)
            dst_dir = os.path.join(stage_dir, b["dir"], "02_forms", slug,
                                   f"{b['year']:04d}", f"{b['month']:02d}")
            os.makedirs(dst_dir, exist_ok=True)
            path = os.path.join(dst_dir, f"forms_{b['dir']}.csv")
            with open(path, "w", encoding="utf-8", newline="") as fh:
                w = csv.writer(fh, lineterminator="\r\n")
                w.writerow(rows[0])
                w.writerows(r for r, k in zip(body, keep) if k)
            b["bytes"] += os.path.getsize(path)
            manifest["forms_rows"] += int(keep.sum())
    return manifest
