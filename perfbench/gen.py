"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, index): the same seed gives
byte-identical files, and input i does not depend on how many inputs a run
asks for. Streams are separated by numpy SeedSequence spawn keys, so adding a
table or a batch never shifts the values of another.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- shapes
# Final input shapes; README.md repeats them with the reasons. Only the
# drop's structure has a source in the repository (SURVEY.md: a daily scrape
# over every province, one PDF per (province, date_slug), one PDF URL shared
# by several provinces and copied to each). Every size below is an
# assumption chosen to fit the benchmark's time budget, not measured traffic.
CORPUS_BASE_DOCS = 1200     # curation: base corpus built into index + ledger
CORPUS_BATCH_DOCS = 600     # curation: documents per nightly batch
CORPUS_EXACT_SHARE = 0.06   # planted exact copies, share of a batch
CORPUS_FAMILIES = 12        # near-duplicate edit chains per batch
CORPUS_CHAIN_DEPTH = 6      # documents per chain (depth-1 successive edits)
EMB_DIM = 64
EMB_LABELS = 10
EMB_CENTROID_WEIGHT = 0.35
# Each drop carries one flyer per province; the nine provinces share
# INGEST_EDITIONS distinct PDFs, each copied byte-identically to
# INGEST_PROVINCES // INGEST_EDITIONS provinces.
INGEST_EDITIONS = 3
INGEST_PAGES = 2            # pages per new edition
# Products on the new editions' pages of one wave, dealt to the pages in a
# seeded order: every wave carries the same number of products, so runs of
# different seeds do the same amount of work. An added page carries
# INGEST_ADDED_PRODUCTS.
INGEST_PAGE_PRODUCTS = (0, 2, 3, 4, 5, 6)
INGEST_ADDED_PRODUCTS = 3
# Waves landed during set-up and ingested together by the warm-up op's
# runDag. They put the silver zone past Spark's 32-path threshold for
# parallel file listing, so every timed wave lists its sources the same way.
# Each timed wave also re-delivers one earlier edition with changed prices
# and one added page.
INGEST_PRESEED_WAVES = 2
# Every INGEST_UNPARSEABLE_EVERY-th wave, the empty page's answer is
# unparseable instead (one page in 28, about 4%), starting with the first
# timed wave, so a run that times one wave still meets one.
INGEST_UNPARSEABLE_EVERY = 4


def rng(seed, *stream):
    return np.random.default_rng([seed, *stream])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# -------------------------------------------------------------- curation
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value window").split()


def _unit(x):
    return x / np.linalg.norm(x, axis=-1, keepdims=True)


def _doc_text(r):
    return " ".join(np.array(WORDS)[r.integers(0, len(WORDS),
                                               r.integers(12, 70))])


def _edit(r, text):
    """One word replaced: a small edit that keeps a chain link's simhash
    and minhash bands close to its parent's."""
    w = text.split()
    w[r.integers(0, len(w))] = WORDS[r.integers(0, len(WORDS))]
    return " ".join(w)


def corpus_plan(seed, batch, n_docs):
    """Documents, embeddings and planted structure of one corpus batch.
    Batch -1 is the base corpus.
    Ids are batch-local, 0..n_docs-1."""
    r = rng(seed, 2, 1, batch + 2)
    cents = _unit(rng(seed, 2, 0).normal(0, 1, (EMB_LABELS, EMB_DIM)))
    texts = [None] * n_docs
    labels = r.integers(0, EMB_LABELS, n_docs)
    # unit vectors around their label's centroid: same-label cosines sit
    # near 0.1, well under semantic dedup's 0.45, so only the planted
    # copies and edit chains are dedup candidates
    vecs = _unit(EMB_CENTROID_WEIGHT * cents[labels]
                 + _unit(r.normal(0, 1, (n_docs, EMB_DIM))))
    slots = r.permutation(n_docs)
    families, pos = [], 0
    for _ in range(CORPUS_FAMILIES):
        ids = sorted(int(i) for i in slots[pos:pos + CORPUS_CHAIN_DEPTH])
        pos += CORPUS_CHAIN_DEPTH
        # chain order is shuffled against id order, so the component's
        # minimum id sits mid-chain and label propagation needs rounds
        chain = [ids[i] for i in r.permutation(len(ids))]
        text = _doc_text(r)
        root = chain[0]
        for k, d in enumerate(chain):
            if k:
                text = _edit(r, text)
                vecs[d] = _unit(vecs[root] + r.normal(0, 0.01, EMB_DIM))
                labels[d] = labels[root]
            texts[d] = text
        families.append(chain)
    n_exact = int(round(n_docs * CORPUS_EXACT_SHARE))
    exact = [int(i) for i in slots[pos:pos + n_exact]]
    plain = [int(i) for i in sorted(slots[pos + n_exact:])]
    for d in plain:
        texts[d] = _doc_text(r)
    originals = []
    for d in exact:
        src = int(plain[r.integers(0, len(plain))])
        texts[d] = texts[src]
        vecs[d] = vecs[src]
        labels[d] = labels[src]
        originals.append(src)
    return {"texts": texts, "labels": labels, "vecs": vecs.astype(np.float32),
            "exact": list(zip(exact, originals)), "families": families}


def gen_corpus(out_dir, seed, batch, n_docs):
    """documents.parquet + embeddings.parquet (the repository's fixture
    schemas) and planted.tsv (exact-copy pairs and chain families)."""
    p = corpus_plan(seed, batch, n_docs)
    ids = pa.array(np.arange(n_docs), pa.int64())
    r = rng(seed, 3, batch + 2)
    _write(pa.table({
        "doc_id": ids,
        "text": p["texts"],
        "lang": ["en"] * n_docs,
        "source": [f"src{i}" for i in r.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in p["texts"]], pa.int64())}),
        os.path.join(out_dir, "documents.parquet"))
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(p["vecs"].reshape(-1), pa.float32()), EMB_DIM)
    _write(pa.table({
        "vec_id": ids,
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(p["labels"], pa.int32())}),
        os.path.join(out_dir, "embeddings.parquet"))
    with open(os.path.join(out_dir, "planted.tsv"), "w") as f:
        for copy, orig in p["exact"]:
            f.write(f"exact\t{copy}\t{orig}\n")
        for fam in p["families"]:
            f.write("family\t" + ",".join(map(str, fam)) + "\n")


# ---------------------------------------------------------------- ingest
PROVINCES = ["Eastern_Cape", "Free_State", "Gauteng", "KwaZulu-Natal",
             "Limpopo", "Mpumalanga", "North_West", "Northern_Cape",
             "Western_Cape"]
BRANDS = ["Pick n Pay", "PnP", "no name™", "KOO", "Clover", "Albany",
          "Coca-Cola", "Lucky Star"]
UNITS = ["8kg", "500g", "g", "kg", "L", "litres", "ml", "Each", "bunch"]
ITEMS = ["Cheese Assorted", "UHT Milk", "Baked Beans", "White Bread",
         "Coke® 2L + Chips (Combo!)", "Pilchards in Tomato Sauce",
         "Rooibos Tea 80s", "???", "Maize Meal", "Chicken Braai Pack"]
DEALS = ["Smart Shopper", "All 3", "Buy 2 Save", None]


def _product(r, group):
    """One extracted product object, covering the A1 edge cases: missing
    keys, brand and unit normalisation hits, float weights, null and
    invalid boxes, boxes at the page edge, shared deal groups."""
    case = r.integers(0, 20)
    name = f"{BRANDS[r.integers(0, len(BRANDS))]} " \
           f"{ITEMS[r.integers(0, len(ITEMS))]}"
    price = float(np.round(r.uniform(5, 400), 2))
    if case == 0:
        return {"product_name": name, "current_price": price}
    y0, x0 = int(r.integers(0, 800)), int(r.integers(0, 800))
    box = [y0, x0, y0 + int(r.integers(100, 141)), x0 + int(r.integers(100, 141))]
    if case == 1:
        box = None
    elif case == 2:
        box = box[:3]
    elif case == 3:
        box = [0, 0, 1000, 1000]
    weight = float(r.integers(1, 1000)) + 0.0 if case == 4 else int(
        r.integers(1, 1000))
    return {
        "product_name": name,
        "brand": BRANDS[r.integers(0, len(BRANDS))],
        "current_price": price,
        "was_price": None if r.integers(0, 3) == 0 else float(
            np.round(price * 1.2, 2)),
        "weight_volume": weight,
        "unit": UNITS[r.integers(0, len(UNITS))],
        "deal_type": DEALS[r.integers(0, len(DEALS))],
        "multi_buy_quantity": 3 if group else 1,
        "bounding_box": box,
        "group_id": group,
    }


def _page(r, n, unparseable=False):
    """The n products the extractor sees on one page, or None when its
    answer is unparseable."""
    if unparseable:
        return None
    group = f"deal-{r.integers(0, 1000):03d}" if r.integers(0, 4) == 0 else None
    return [_product(r, group if k < 3 else None) for k in range(n)]


def _reprice(r, prods):
    """The same products with new prices: every current price moves by at
    least R1, and a was price keeps its ratio to it."""
    if prods is None:
        return None
    out = []
    for p in prods:
        q = dict(p)
        q["current_price"] = float(np.round(p["current_price"]
                                            + r.uniform(1, 20), 2))
        if q.get("was_price") is not None:
            q["was_price"] = float(np.round(q["current_price"] * 1.2, 2))
        out.append(q)
    return out


def _answer(prods, key):
    if prods is None:
        return "llm said: not json {{{ " + key
    return json.dumps(prods, ensure_ascii=False, separators=(",", ":"))


def _crops(prods):
    return sum(1 for p in prods or ()
               if isinstance(p.get("bounding_box"), list)
               and len(p["bounding_box"]) == 4)


def minimal_pdf(n_pages, tag):
    """An uncompressed PDF with one `/Type /Page` object per page; `tag`
    varies the bytes so every edition renders differently."""
    kids = " ".join(f"{3 + i} 0 R" for i in range(n_pages))
    pages = "\n".join(
        f"{3 + i} 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 595 842] "
        f">> endobj" for i in range(n_pages))
    doc = (f"%PDF-1.4\n% {tag}\n1 0 obj << /Type /Catalog /Pages 2 0 R >> "
           f"endobj\n2 0 obj << /Type /Pages /Kids [{kids}] /Count {n_pages} "
           f">> endobj\n{pages}\ntrailer << /Root 1 0 R >>\n%%EOF\n")
    return doc.encode("latin-1")


def _date_range(wave):
    d0 = dt.date(2026, 1, 1) + dt.timedelta(days=wave)
    d1 = d0 + dt.timedelta(days=2)
    return f"{d0.day}_{d0:%B}_-_{d1.day}_{d1:%B}_{d1.year}"


def ingest_plan(seed, n_waves):
    """The drops of n_waves waves: per wave a list of editions, each a dict
    with the provinces that share it, its flyer name, its pages (product
    lists, None for an unparseable page), the number of pages earlier
    editions of the flyer already had, and whether it is a re-delivery."""
    assert len(INGEST_PAGE_PRODUCTS) == INGEST_EDITIONS * INGEST_PAGES
    editions, waves = [], []
    per_prov = len(PROVINCES) // INGEST_EDITIONS
    for w in range(n_waves):
        r = rng(seed, 4, w)
        perm = r.permutation(len(PROVINCES))
        counts = [INGEST_PAGE_PRODUCTS[i]
                  for i in r.permutation(len(INGEST_PAGE_PRODUCTS))]
        bad = (w % INGEST_UNPARSEABLE_EVERY
               == INGEST_PRESEED_WAVES % INGEST_UNPARSEABLE_EVERY)
        pages = [_page(r, n, bad and n == 0) for n in counts]
        drop = []
        for e in range(INGEST_EDITIONS):
            provs = sorted(PROVINCES[i] for i in perm[e * per_prov:(e + 1) * per_prov])
            drop.append({"provinces": provs, "flyer": _date_range(w),
                         "pages": pages[e * INGEST_PAGES:(e + 1) * INGEST_PAGES],
                         "n_old": 0, "redelivery": False})
        if w >= INGEST_PRESEED_WAVES:
            old = editions[r.integers(0, len(editions))]
            # a new edition of an earlier flyer: the same products on the
            # same pages at new prices, and one page more
            drop.append({"provinces": old["provinces"], "flyer": old["flyer"],
                         "pages": [_reprice(r, p) for p in old["pages"]]
                         + [_page(r, INGEST_ADDED_PRODUCTS)],
                         "n_old": len(old["pages"]), "redelivery": True})
            old["pages"] = drop[-1]["pages"]
        editions += [dict(e) for e in drop if not e["redelivery"]]
        waves.append(drop)
    return waves


def gen_ingest(out_dir, seed, n_waves):
    """One catalogue drop per wave under drop_NNNN/<province>/<flyer>.pdf,
    plus three tables:

    answers.tsv: what the extractor returns per page key, by wave;
    expect.tsv: the ledger the clean, crop and quarantine zones must match
      after the wave, per re-delivered or new flyer: clean rows, crop files,
      unparseable pages, then the wave's new pages and the products on them;
    prices.tsv: per re-delivered page that an earlier edition already had,
      the current prices of its latest edition.

    Re-delivered pages keep their products, so the ledger's row, crop and
    quarantine counts hold whether or not the program re-extracts them."""
    answers, expect, prices = [], [], []
    totals = {}   # (province, flyer) -> [clean rows, crops, unparseable]
    for w, drop in enumerate(ingest_plan(seed, n_waves)):
        for ed in drop:
            pages, n_old = ed["pages"], ed["n_old"]
            new = pages[n_old:]
            for prov in ed["provinces"]:
                key = (prov, ed["flyer"])
                t = totals.setdefault(key, [0, 0, 0])
                for p in new:
                    t[0] += len(p or ())
                    t[1] += _crops(p)
                    t[2] += p is None
                for i, p in enumerate(pages, 1):
                    answers.append((w, f"{prov}/{ed['flyer']}/page_{i}",
                                    _answer(p, f"{prov}/{ed['flyer']}/page_{i}")))
                    if i <= n_old and p:
                        prices.append((w, prov, ed["flyer"], f"page_{i}",
                                       ",".join(str(x["current_price"]) for x in p)))
                path = os.path.join(out_dir, f"drop_{w:04d}", prov,
                                    f"{ed['flyer']}.pdf")
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "wb") as f:
                    # provinces sharing an edition get the same bytes
                    f.write(minimal_pdf(len(pages),
                                        f"{seed}/{w}/{ed['flyer']}/{ed['provinces'][0]}"))
                expect.append((w, prov, ed["flyer"], *t, len(new),
                               sum(len(p or ()) for p in new)))
    for name, rows in (("answers", answers), ("expect", expect),
                       ("prices", prices)):
        with open(os.path.join(out_dir, f"{name}.tsv"), "w",
                  encoding="utf-8") as f:
            for row in rows:
                f.write("\t".join(str(x) for x in row) + "\n")
    return len(answers)
