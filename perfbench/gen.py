"""Seeded input generators for the benchmark, with planted structure.

Everything here is NumPy + PyArrow: no Spark, so the inputs and the facts
planted in them (near-duplicate families, exact copies, unmatched ids, the
changelog mix) are known apart from the engine under test. The same seed
always gives the same files.

Text is drawn from a Zipf(1) vocabulary of synthetic syllable words whose
sixteen most frequent ranks are English stopwords, so the quality gate sees
a realistic stopword share and the decontamination stage sees a real
head of shared word 3-grams.
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STOP = ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on",
        "that", "with", "as", "was", "at", "by"]
SYLLABLES = ["ka", "lo", "mi", "re", "su", "ta", "ne", "vo", "pi", "du",
             "ge", "ra", "zo", "fe", "hu", "ba", "ci", "mo", "te", "la"]
LANGS = np.array(["en", "de", "fr"])
LANG_P = [0.6, 0.3, 0.1]
N_SOURCES = 5
VOCAB = 20_000


def _word(rank: int) -> str:
    if rank < len(STOP):
        return STOP[rank]
    r, syl = rank, []
    while r or len(syl) < 2:
        r, d = divmod(r, len(SYLLABLES))
        syl.append(SYLLABLES[d])
    return "".join(syl)


_WORDS = [_word(r) for r in range(VOCAB)]


def _zipf_words(rng: np.random.Generator, n: int) -> list[str]:
    ranks = np.floor(np.exp(rng.random(n) * math.log(VOCAB))).astype(np.int64) - 1
    return [_WORDS[r] for r in ranks]


def _doc(rng: np.random.Generator, lo: int = 30, hi: int = 60) -> list[str]:
    return _zipf_words(rng, int(rng.integers(lo, hi + 1)))


def _mutate(rng: np.random.Generator, words: list[str], n_sub: int) -> list[str]:
    out = list(words)
    for pos, w in zip(rng.choice(len(out), n_sub, replace=False), _zipf_words(rng, n_sub)):
        out[pos] = w
    return out


def char_shingles(text: str, k: int = 5) -> set[str]:
    """The engine's 5-char shingle set, recomputed in Python: lowercased,
    whitespace runs collapsed, every k-window (the whole text when shorter)."""
    norm = " ".join(text.lower().split())
    return {norm[i:i + k] for i in range(max(len(norm) - k + 1, 1))}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 0.0


def s_curve(j: float, rows: int = 4, bands: int = 8) -> float:
    """Probability that a pair at Jaccard j collides in at least one LSH
    band (32 hashes cut into 8 bands of 4, the funnel's geometry)."""
    return 1.0 - (1.0 - j**rows) ** bands


@dataclass
class Corpus:
    table: pa.Table
    families: list[list[int]] = field(default_factory=list)  # doc ids, one block each
    copies: list[tuple[int, int]] = field(default_factory=list)  # (original, copy)
    short: list[int] = field(default_factory=list)


def corpus(seed: int, n_docs: int, family_share: float = 0.12, family_size: int = 4,
           copy_share: float = 0.03, short_share: float = 0.03) -> Corpus:
    """``n_docs`` documents (doc_id, text, lang, source) with planted
    structure: near-duplicate families of ``family_size`` members (one
    original plus copies with 2-4 substituted words, char-5 Jaccard about
    0.55-0.9) that share one (lang, source) block; exact copies of unrelated
    documents; short documents the quality gate must drop. Ids are a seeded
    permutation, so planted members are spread over the id range."""
    rng = np.random.default_rng([seed, 1])
    n_fam = int(n_docs * family_share) // family_size
    n_copy = int(n_docs * copy_share)
    n_short = int(n_docs * short_share)
    n_plain = n_docs - n_fam * family_size - n_copy - n_short
    texts, langs, sources, kinds = [], [], [], []

    def block():
        return rng.choice(LANGS, p=LANG_P), f"crawl-{int(rng.integers(N_SOURCES))}"

    for _ in range(n_plain):
        lang, src = block()
        texts.append(" ".join(_doc(rng))), langs.append(lang), sources.append(src), kinds.append(("plain",))
    for f in range(n_fam):
        lang, src = block()
        base = _doc(rng, 40, 60)
        for m in range(family_size):
            words = base if m == 0 else _mutate(rng, base, int(rng.integers(2, 5)))
            texts.append(" ".join(words)), langs.append(lang), sources.append(src), kinds.append(("fam", f))
    for _ in range(n_copy):
        src_idx = int(rng.integers(n_plain))
        texts.append(texts[src_idx]), langs.append(langs[src_idx]), sources.append(sources[src_idx])
        kinds.append(("copy", src_idx))
    for _ in range(n_short):
        lang, src = block()
        texts.append(" ".join(_zipf_words(rng, 3))), langs.append(lang), sources.append(src), kinds.append(("short",))
    ids = rng.permutation(n_docs).astype(np.int64)
    out = Corpus(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
    }))
    fams: dict[int, list[int]] = {}
    for i, kind in enumerate(kinds):
        if kind[0] == "fam":
            fams.setdefault(kind[1], []).append(int(ids[i]))
        elif kind[0] == "copy":
            out.copies.append((int(ids[kind[1]]), int(ids[i])))
        elif kind[0] == "short":
            out.short.append(int(ids[i]))
    out.families = [sorted(v) for v in fams.values()]
    return out


@dataclass
class IngestInputs:
    history: pa.Table
    batches: list[pa.Table]
    # (earlier doc id, batch doc id, exact char-5 Jaccard) for every planted
    # pair that straddles a batch boundary and sits at or above threshold
    straddling: list[tuple[int, int, float]]


def ingest(seed: int, n_history: int, n_batches: int, batch_size: int,
           straddle_share: float = 0.15) -> IngestInputs:
    """A history corpus and ``n_batches`` arriving batches. About
    ``straddle_share`` of each batch are near-duplicate copies (2-4 words
    substituted) of an earlier document: half of them of a history
    document, half of a document from an earlier batch (all of history in
    the first batch). Ids: history 0..H-1, batch k takes the next
    ``batch_size`` ids."""
    rng = np.random.default_rng([seed, 2])
    hist = corpus(seed, n_history, copy_share=0.0, short_share=0.0).table
    hist = hist.sort_by("doc_id")
    words_by_id = {int(i): t.split() for i, t in zip(hist["doc_id"].to_pylist(), hist["text"].to_pylist())}
    batches, straddling = [], []
    next_id = n_history
    for k in range(n_batches):
        ids, texts, langs, sources = [], [], [], []
        n_dup = int(batch_size * straddle_share)
        for j in range(batch_size):
            doc_id = next_id + j
            if j < n_dup:
                pool_lo = n_history if (j % 2 and k > 0) else 0
                pool_hi = n_history if pool_lo == 0 else next_id
                src = int(rng.integers(pool_lo, pool_hi))
                words = _mutate(rng, words_by_id[src], int(rng.integers(2, 5)))
                jac = jaccard(char_shingles(" ".join(words)), char_shingles(" ".join(words_by_id[src])))
                if jac >= 0.5:
                    straddling.append((src, doc_id, jac))
            else:
                words = _doc(rng)
            words_by_id[doc_id] = words
            ids.append(doc_id), texts.append(" ".join(words))
            langs.append(str(rng.choice(LANGS, p=LANG_P))), sources.append(f"crawl-{int(rng.integers(N_SOURCES))}")
        next_id += batch_size
        batches.append(pa.table({
            "doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()), "source": pa.array(sources, pa.string()),
        }))
    return IngestInputs(hist, batches, straddling)


def star(seed: int, n_products: int, n_customers: int, n_events: int,
         unmatched_share: float = 0.02, n_changes: int = 1500) -> dict[str, pa.Table]:
    """Raw star-schema sources in the reference's column contracts
    (products/customers keyed ``id``), plus a CDC changelog.

    - ``unmatched_share`` of events carry a customer id and (separately) a
      product id above every dimension key, so their enrichment payload is
      null;
    - the changelog (``changes``) has unique ``event_id`` keys, all in the
      newest tenth of the key range or above it: 60% updates (new qty and
      price for an existing event), 25% inserts (new event ids), 15%
      tombstones (``_deleted`` = true for an existing event)."""
    rng = np.random.default_rng([seed, 3])
    cats = np.array(["electronics", "toys", "sports", "books", "home"])
    products = pa.table({
        "id": pa.array(np.arange(1, n_products + 1), pa.int64()),
        "name": [f"product {i}" for i in range(1, n_products + 1)],
        "sku": [f"SKU-{int(x):08X}" for x in rng.integers(0, 2**31, n_products)],
        "category": cats[rng.integers(0, len(cats), n_products)],
        "price": pa.array([_dec2(x) for x in rng.integers(999, 29999, n_products)], pa.decimal128(12, 2)),
    })
    segs = np.array(["retail", "wholesale", "vip", "online"])
    customers = pa.table({
        "id": pa.array(np.arange(1, n_customers + 1), pa.int64()),
        "external_id": [f"ext-{i:08d}" for i in range(1, n_customers + 1)],
        "name": [f"customer {i}" for i in range(1, n_customers + 1)],
        "segment": segs[rng.integers(0, len(segs), n_customers)],
    })

    def events(ids: np.ndarray) -> dict:
        n = len(ids)
        cust = rng.integers(1, n_customers + 1, n)
        prod = rng.integers(1, n_products + 1, n)
        cust[rng.random(n) < unmatched_share] += n_customers
        prod[rng.random(n) < unmatched_share] += n_products
        t0 = np.datetime64("2024-01-01T00:00:00", "us")
        return {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(t0 + (ids * 37_000_000).astype("timedelta64[us]"), pa.timestamp("us")),
            "customer_id": pa.array(cust, pa.int64()),
            "product_id": pa.array(prod, pa.int64()),
            "qty": pa.array(rng.integers(1, 5, n), pa.int32()),
            "unit_price": pa.array([_dec2(x) for x in rng.integers(999, 32999, n)], pa.decimal128(12, 2)),
        }

    ev = pa.table(events(np.arange(1, n_events + 1)))
    n_upd, n_ins = int(n_changes * 0.6), int(n_changes * 0.25)
    n_del = n_changes - n_upd - n_ins
    recent = np.arange(n_events - n_events // 10 + 1, n_events + 1)
    touched = rng.choice(recent, n_upd + n_del, replace=False)
    ch_ids = np.concatenate([touched, np.arange(n_events + 1, n_events + n_ins + 1)])
    changes = events(ch_ids)
    changes["_deleted"] = pa.array([False] * n_upd + [True] * n_del + [False] * n_ins)
    dates = [dt.date(2024, 1, 1) + dt.timedelta(days=7 * d) for d in range(4)]
    grid = [(d, p, w) for d in dates for p in range(1, n_products + 1) for w in ("wh-01", "wh-02", "wh-03")]
    inventory = pa.table({
        "date": pa.array([g[0] for g in grid], pa.date32()),
        "product_id": pa.array([g[1] for g in grid], pa.int64()),
        "warehouse_id": [g[2] for g in grid],
        "stock_units": pa.array(rng.integers(0, 51, len(grid)), pa.int32()),
    })
    return {"products": products, "customers": customers, "events": ev,
            "inventory": inventory, "changes": pa.table(changes)}


def _dec2(cents: int):
    from decimal import Decimal

    return Decimal(int(cents)).scaleb(-2)


def relational(seed: int, n_customers: int = 1500, n_orders: int = 15_000,
               n_events: int = 10_000, users: int = 150) -> dict[str, pa.Table]:
    """TPC-H-shaped ``nation``/``customer``/``orders``/``lineitem`` plus the
    ``events`` stream table, in the column names and Arrow types of the
    engine's corpus tables (the catalog entries read them by name).
    Roughly sf0.01 at the defaults."""
    rng = np.random.default_rng([seed, 4])
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_customers)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_customers), 2),
        "c_mktsegment": segs[rng.integers(0, len(segs), n_customers)],
    })
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + rng.integers(0, 6 * 365, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, n_orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_orders)],
    })
    per_order = rng.integers(1, 8, n_orders)
    okeys = np.repeat(np.arange(n_orders), per_order)
    n_li = len(okeys)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
    ship = np.repeat(odate, per_order) + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + rng.integers(0, 30 * 86_400_000_000, n_events).astype("timedelta64[us]")
    types = np.array(["click", "signup", "error", "view", "purchase"])
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n_events), pa.int64()),
        "event_type": types[rng.integers(0, len(types), n_events)],
        "value": np.round(rng.uniform(0.01, 500.0, n_events), 2),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_events)],
    })
    return {"nation": nation, "customer": customer, "orders": orders,
            "lineitem": lineitem, "events": events}


def write(tables: dict[str, pa.Table], directory: str) -> dict[str, str]:
    """One ``<name>.parquet`` per table under ``directory``; returns paths."""
    import os

    os.makedirs(directory, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(directory, f"{name}.parquet")
        pq.write_table(t, paths[name])
    return paths
