"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Each one also writes the outcome the engine must produce, so
the benchmark can check the engine's outputs in the same run.

  tables      the TPC-H-ish star schema plus events/documents/embeddings
              that the registry queries read (one parquet file each).
  warehouse   per-cycle deliveries for Warehouse.pollOnce derived from the
              customer, part, orders and lineitem tables, in xlsx, csv,
              parquet and jsonl, with re-delivered keys, FK-orphan files,
              a file missing a required column, `~$` lock files and
              re-touched files; plus expected statuses, keys and totals.
  feed        document batches for the curation feed with planted exact
              copies, near-duplicate edits, span mashups, blocklisted
              domains, contaminated, low-quality, out-of-vocabulary and
              wrong-language documents; plus a disjoint training slice for
              the models and stores, and the expected kept ids and
              per-outcome counts.
"""
import csv
import datetime as dt
import hashlib
import json
import os
import shutil
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table: pa.Table, path: str) -> None:
    # one row group per file, like the reference test data
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _ts(days, start: dt.datetime) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + np.asarray(days), type=pa.timestamp("us"))


# ── star schema ─────────────────────────────────────────────────────────

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
DOC_WORDS = ("a agg batch big column customer data dup fast filter group hash "
             "join key line merge order part query row scan slow small sort "
             "spark stream table the value vector window").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def tables(out: str, seed: int, sf: float) -> None:
    """Write the ten registry tables at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(10, round(200_000 * sf))
    n_ord = max(10, round(1_500_000 * sf))
    n_li = max(10, round(6_000_000 * sf))
    n_ev = max(10, round(1_000_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)}),
        f"{out}/part.parquet")
    day = np.timedelta64(1, "D")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord) * day,
                           dt.datetime(1995, 1, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(rng.integers(0, 2498, n_li) * day,
                          dt.datetime(1995, 1, 2))}),
        f"{out}/lineitem.parquet")
    us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(us.astype("timedelta64[us]"), dt.datetime(2024, 1, 1)),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        f"{out}/events.parquet")
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(DOC_WORDS[i] for i in rng.integers(0, len(DOC_WORDS), k))
             for k in lens]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    centroids = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centroids[labels] + rng.normal(0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


# ── warehouse deliveries ────────────────────────────────────────────────

FORMATS = ["xlsx", "csv", "parquet", "jsonl"]
# scale factor of the registry tables the deliveries are derived from:
# 1500 customers, 2000 parts, 60000 lineitems
REGISTRY_SF = 0.01


def _col(i: int) -> str:
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(65 + r) + s
    return s


def _xlsx(path: str, header: list, rows: list) -> None:
    """Minimal one-sheet workbook: inline strings, numeric cells as `n`."""
    def cell(ref, v):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return f'<c r="{ref}"><v>{v!r}</v></c>'
        s = (str(v).replace("&", "&amp;").replace("<", "&lt;")
             .replace(">", "&gt;"))
        return f'<c r="{ref}" t="inlineStr"><is><t>{s}</t></is></c>'
    body = []
    for r, row in enumerate([header] + rows, start=1):
        cells = "".join(cell(f"{_col(c)}{r}", v) for c, v in enumerate(row))
        body.append(f'<row r="{r}">{cells}</row>')
    sheet = ('<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns='
             '"http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
             f'<sheetData>{"".join(body)}</sheetData></worksheet>')
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("xl/worksheets/sheet1.xml", sheet)


def _deliver(path_noext: str, fmt: str, header: list, rows: list,
             numeric: set) -> str:
    """Write one delivery file; returns its file name."""
    path = f"{path_noext}.{fmt}"
    if fmt == "xlsx":
        _xlsx(path, header, rows)
    elif fmt == "csv":
        with open(path, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(header)
            w.writerows(rows)
    elif fmt == "jsonl":
        with open(path, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(header, r))) + "\n")
    else:
        cols = {}
        for i, h in enumerate(header):
            vals = [r[i] for r in rows]
            cols[h] = pa.array(vals, pa.float64() if h in numeric else
                               pa.string()) if vals else pa.array([], pa.string())
        _write(pa.table(cols), path)
    return os.path.basename(path)


def _dated(rows: list, fmt: str) -> list:
    """Sales rows with their last cell, a datetime, as delivered in `fmt`:
    an Excel serial in xlsx, text elsewhere."""
    def date(when):
        if fmt == "xlsx":
            return round((when - dt.datetime(1899, 12, 30)).total_seconds()
                         / 86_400, 8)
        return when.strftime("%Y-%m-%d %H:%M:%S")
    return [r[:-1] + [date(r[-1])] for r in rows]


def warehouse(out: str, seed: int, cycles: int, ventes_per: int) -> None:
    """Write `cycles` delivery directories under `out` and `expected.json`.

    Deliveries are derived from the registry tables generated with the same
    seed at `REGISTRY_SF`: cycle c's ventes are lineitem rows
    c*ventes_per .. (c+1)*ventes_per - 1 in table order (client through the
    line's order, produit the line's part, quantity, extended price, ship
    date), so their sale dates spread over the lineitem ship-date range.
    The clients and produits files carry the customer and part rows those
    sales reference that no earlier cycle delivered, plus a few re-delivered
    keys and an exact copy row. Formats rotate so all four appear for every
    entity. Every cycle also lands a `~$` lock file (ignored, no status
    row) and from cycle 1 on re-touches the previous cycle's clients file
    (processed again; every key already committed, so zero new rows). Every
    third cycle from cycle 1 adds a ventes file with an FK orphan (error,
    nothing committed), every fourth from cycle 1 a produits file missing
    `categorie` (error); so cycle 1 holds every case.
    """
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    reg = f"{out}/registry"
    tables(reg, seed, REGISTRY_SF)
    cust = pq.read_table(f"{reg}/customer.parquet").to_pydict()
    part = pq.read_table(f"{reg}/part.parquet").to_pydict()
    nation = pq.read_table(f"{reg}/nation.parquet").to_pydict()["n_name"]
    o_cust = pq.read_table(f"{reg}/orders.parquet",
                           columns=["o_custkey"]).column(0).to_numpy()
    li = pq.read_table(f"{reg}/lineitem.parquet", columns=[
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
        "l_shipdate"]).to_pydict()
    shutil.rmtree(reg)
    assert cycles * ventes_per <= len(li["l_orderkey"]), "too few lineitems"

    def client_row(k: int) -> list:
        nat = cust["c_nationkey"][k]
        return [f"C{k:06d}", cust["c_name"][k],
                cust["c_mktsegment"][k].title(), f"customer{k}@mail.example",
                f"{10 + nat}-{k % 1000:03d}-{k // 1000 % 1000:03d}-{k % 9973:04d}",
                nation[nat]]

    def produit_row(k: int) -> list:
        return [f"P{k:06d}", part["p_name"][k], part["p_type"][k].lower(),
                part["p_retailprice"][k], part["p_size"][k],
                part["p_brand"][k]]

    clients, produits = [], []     # committed customer/part keys, in order
    known_c, known_p = set(), set()
    ventes = set()
    revenue_cents = 0
    statuses = {}
    plan = []
    vhead = ["vente_id", "client_id", "produit_id", "quantite",
             "prix_total", "date_vente"]
    vnum = {"quantite", "prix_total"}
    for c in range(cycles):
        d = f"{out}/cycle_{c:03d}"
        os.makedirs(d)
        files, retouch = [], []
        fc, fp, fv = (FORMATS[(c + k) % 4] for k in range(3))
        lines = range(c * ventes_per, (c + 1) * ventes_per)
        cks = [int(o_cust[li["l_orderkey"][i]]) for i in lines]
        pks = [li["l_partkey"][i] for i in lines]
        # clients: the customers this cycle's sales need, some re-delivered
        # ones, one exact copy row
        fresh = list(dict.fromkeys(k for k in cks if k not in known_c))
        redo = ([clients[i] for i in rng.choice(len(clients), 3, replace=False)]
                if len(clients) >= 3 else [])
        rows = [client_row(k) for k in fresh + redo]
        rows.append(list(rows[0]))
        name = _deliver(f"{d}/clients_c{c:03d}", fc,
                        ["client_id", "nom", "prenom", "email", "telephone",
                         "adresse"], rows, set())
        files.append(name)
        statuses[name] = "success"
        clients += fresh
        known_c.update(fresh)
        # produits: the parts this cycle's sales need, some re-delivered
        fresh_p = list(dict.fromkeys(k for k in pks if k not in known_p))
        redo_p = ([produits[i] for i in rng.choice(len(produits), 2, replace=False)]
                  if len(produits) >= 2 else [])
        rows = [produit_row(k) for k in fresh_p + redo_p]
        name = _deliver(f"{d}/produits_c{c:03d}", fp,
                        ["produit_id", "nom", "categorie", "prix_unitaire",
                         "stock_disponible", "description"], rows,
                        {"prix_unitaire", "stock_disponible"})
        files.append(name)
        statuses[name] = "success"
        produits += fresh_p
        known_p.update(fresh_p)
        # ventes: the lineitem rows
        rows, cents = [], 0
        fresh_v = []
        for i, ck, pk in zip(lines, cks, pks):
            vid = f"V{i:07d}"
            price = li["l_extendedprice"][i]
            sec = int(rng.integers(0, 86_400))
            when = li["l_shipdate"][i] + dt.timedelta(seconds=sec)
            rows.append([vid, f"C{ck:06d}", f"P{pk:06d}",
                         int(li["l_quantity"][i]), price, when])
            fresh_v.append(vid)
            cents += round(price * 100)
        if ventes:
            old = sorted(ventes)
            for i in rng.choice(len(old), 5, replace=False):
                r = list(rows[0])
                r[0] = old[i]
                rows.append(r)
        name = _deliver(f"{d}/ventes_c{c:03d}", fv, vhead, _dated(rows, fv),
                        vnum)
        files.append(name)
        statuses[name] = "success"
        ventes.update(fresh_v)
        revenue_cents += cents
        if c % 3 == 1:
            # FK orphans: the cycle's first sales under new ids, one of
            # them referencing an unknown client
            orows = [[f"W{c:03d}{i:04d}"] + r[1:] for i, r in
                     enumerate(rows[:20])]
            orows[7][1] = "C_UNKNOWN"
            name = _deliver(f"{d}/ventes_orphans_c{c:03d}", FORMATS[c % 4],
                            vhead, _dated(orows, FORMATS[c % 4]), vnum)
            files.append(name)
            statuses[name] = "error"
        if c % 4 == 1:
            # missing the required `categorie` column
            mrows = [[f"M{c:03d}{i:03d}"] + produit_row(k)[1:2] +
                     produit_row(k)[3:] for i, k in enumerate(fresh_p[:5])]
            name = _deliver(f"{d}/produits_nocat_c{c:03d}", "csv",
                            ["produit_id", "nom", "prix_unitaire",
                             "stock_disponible", "description"], mrows, set())
            files.append(name)
            statuses[name] = "error"
        with open(f"{d}/~$clients_c{c:03d}.xlsx", "wb") as f:
            f.write(b"lock")
        if c >= 1:
            retouch.append(plan[c - 1]["files"][0])  # a clients file
        plan.append({"dir": os.path.basename(d), "files": files,
                     "retouch": retouch,
                     "expect": {"clients": len(clients),
                                "produits": len(produits),
                                "ventes": len(ventes),
                                "revenue_cents": revenue_cents,
                                "statuses": dict(statuses)}})
    # key sets are prefixes of the committed order, so a cycle's expected
    # keys are the first `expect[entity]` keys of these lists
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"cycles": plan, "keys": {
            "clients": [f"C{k:06d}" for k in clients],
            "produits": [f"P{k:06d}" for k in produits],
            "ventes": sorted(ventes, key=lambda v: int(v[1:]))}}, f)


# ── curation feed batches ───────────────────────────────────────────────

CONS, VOW = "bcdfghklmnprst", "aeiou"
XX = ["qw", "zy", "xq", "wz", "yx", "qz"]   # wrong-language syllables
OOV = ["jv", "vj", "jjv", "vvj"]             # letters the ULM never saw
SPAM = "spamword"
DIMS = 512


def _fid(tok: str) -> int:
    """The QualityModel feature id of a token (TextSignatures.tokFids)."""
    d = hashlib.md5(tok.encode()).digest()
    return ((d[0] << 8) | d[1]) % DIMS


def _vocab(rng, n: int, forbid: set) -> list:
    spam = _fid(SPAM)
    out, seen = [], set(forbid)
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(CONS[rng.integers(0, len(CONS))] + VOW[rng.integers(0, 5)]
                    for _ in range(k))
        if w not in seen and _fid(w) != spam:
            seen.add(w)
            out.append(w)
    return out


def _words(rng, pool: list, n: int) -> list:
    return [pool[i] for i in rng.integers(0, len(pool), n)]


def _odd(rng, syl: list, n: int) -> list:
    spam = _fid(SPAM)
    out = []
    while len(out) < n:
        w = "".join(syl[rng.integers(0, len(syl))]
                    for _ in range(int(rng.integers(2, 4))))
        if _fid(w) != spam:
            out.append(w)
    return out


def feed(out: str, seed: int, batches: int, fresh_per: int,
         doc_words: int) -> None:
    """Write the training slice, `batches` document batches, expected.json.

    Batch b holds `fresh_per` fresh documents (kept) and two of each planted
    reject. Exact copies, near-duplicate edits (three words appended) and
    span mashups (quarters of four documents) point at documents kept in
    earlier batches, so batch 0 has none of them.
    """
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    bench_vocab = _vocab(rng, 200, set())
    vocab = _vocab(rng, 3000, set(bench_vocab))

    def fresh():
        return " ".join(_words(rng, vocab, doc_words))

    # disjoint training slice: its own fresh texts, never delivered
    train = [(i, fresh(), "en") for i in range(40)]
    train += [(100 + i, " ".join(_odd(rng, OOV, doc_words)), "en")
              for i in range(10)]
    train += [(200 + i, " ".join(_odd(rng, XX, doc_words)), "xx")
              for i in range(20)]
    _write(pa.table({"doc_id": pa.array([t[0] for t in train], pa.int64()),
                     "text": [t[1] for t in train],
                     "lang": [t[2] for t in train]}),
           f"{out}/train.parquet")
    bench = [(900 + i, " ".join(_words(rng, bench_vocab, 12)))
             for i in range(8)]
    _write(pa.table({"doc_id": pa.array([b[0] for b in bench], pa.int64()),
                     "text": [b[1] for b in bench]}), f"{out}/bench.parquet")
    blocked = [f"blocked{i}.example.org" for i in range(4)]
    with open(f"{out}/blocklist.txt", "w") as f:
        f.write("\n".join(blocked) + "\n")

    kept_texts = []          # texts of kept docs, delivery order
    kept_ids = []
    counts = {}
    plan = []
    next_id = 0
    for b in range(batches):
        rows, planted = [], {}

        def add(text, domain, outcome):
            nonlocal next_id
            rows.append((next_id, text, domain))
            planted.setdefault(outcome, []).append(next_id)
            next_id += 1

        ok = lambda: f"site{int(rng.integers(0, 50))}.example.com"  # noqa
        new_kept = []
        for _ in range(fresh_per):
            t = fresh()
            add(t, ok(), "kept")
            new_kept.append((next_id - 1, t))
        for _ in range(2):
            add(fresh(), blocked[rng.integers(0, 4)], "blocklisted")
            add(" ".join(_odd(rng, XX, doc_words)), ok(), "language")
            w = fresh().split()
            run = bench[rng.integers(0, len(bench))][1].split()[2:8]
            add(" ".join(w[:30] + run + w[30:]), ok(), "contaminated")
            w = fresh().split()
            add(" ".join(w[:20] + [SPAM] + w[20:]), ok(), "quality")
            add(" ".join(_odd(rng, OOV, doc_words)), ok(), "lm_score")
            if kept_texts:
                src = kept_texts[rng.integers(0, len(kept_texts))]
                add(src, ok(), "exact_dup")
                src = kept_texts[rng.integers(0, len(kept_texts))]
                add(src + " " + " ".join(_words(rng, vocab, 3)), ok(),
                    "near_dup")
                # quarters of four kept documents: every 32-char window
                # but the three seams is stored, while the word-shingle
                # Jaccard against each source stays near 0.14, far below
                # the near-duplicate store's 8-of-16 MinHash agreement
                srcs = rng.choice(len(kept_texts), 4, replace=False)
                parts = []
                for q, i in enumerate(srcs):
                    w = kept_texts[i].split()
                    parts += w[q * len(w) // 4:(q + 1) * len(w) // 4]
                add(" ".join(parts), ok(), "span_dup")
        order = rng.permutation(len(rows))
        rows = [rows[i] for i in order]
        _write(pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                         "text": [r[1] for r in rows],
                         "domain": [r[2] for r in rows]}),
               f"{out}/batch_{b:03d}.parquet")
        kept_texts += [t for _, t in new_kept]
        kept_ids += [i for i, _ in new_kept]
        for k, v in planted.items():
            counts[k] = counts.get(k, 0) + len(v)
        plan.append({"file": f"batch_{b:03d}.parquet", "docs": len(rows),
                     "bytes": os.path.getsize(f"{out}/batch_{b:03d}.parquet"),
                     "planted": planted, "cumulative": dict(counts)})
    with open(f"{out}/expected.json", "w") as f:
        json.dump({"batches": plan, "dims": DIMS, "spam_token": SPAM}, f)
