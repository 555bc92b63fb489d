"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments and
writes parquet through pyarrow, so the same seed gives the same bytes.

- ``write_star_group``: the customer / orders pair of the TPC-H-style
  test data's star group, plus two contact columns on ``customer``
  (``c_email``, ``c_zip``). Seeded flaw classes follow the quick-start
  fixture: dummy blanks, case variants, leading spaces, bad emails and
  zips, and exact duplicate rows.
- ``make_corpus``: an English-like corpus with language labels. Documents
  mix English stopwords with content words so Gopher's stopword rule
  passes; a low-quality tail (too few words), an exact-duplicate tail and
  a foreign-language share make every curation outcome occur, and the
  expected keep set is known from the generator. Query documents carry a
  planted rare term so each query's first hit is known.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("customer", "orders")
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DUMMY_BLANKS = ["N/A", "Missing", "-"]


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def star_rows(seed: int, n_orders: int = 1500) -> dict[str, list[dict]]:
    """Row dicts per table; ``n_orders`` scales the group (customers =
    n_orders / 10)."""
    rng = random.Random(seed)
    n_cust = max(n_orders // 10, 20)
    epoch = dt.datetime(1995, 1, 1)
    # flaw classes sit at fixed row positions, so every seed carries each
    # of them at a known rate; the seed picks the values
    customer = []
    for k in range(n_cust):
        seg = SEGMENTS[rng.randrange(len(SEGMENTS))]
        if k % 25 == 4:
            seg = rng.choice(DUMMY_BLANKS)                # dummy blanks
        elif k % 15 == 2:
            seg = seg.capitalize() if k % 2 else seg.lower()   # casing
        name = f"Customer#{k:09d}"
        if k % 30 == 11:
            name = " " + name                             # leading space
        email = (f"user{k}@example.com" if k % 20 != 7
                 else f"user{k}-at-example")              # bad email
        zipc = (f"{rng.randrange(1000, 99999):05d}" if k % 20 != 13
                else rng.choice(["ABC12", "9x210", "00000-"]))  # bad zip
        customer.append({
            "c_custkey": k, "c_name": name,
            "c_nationkey": rng.randrange(25),
            "c_acctbal": round(rng.uniform(-999.99, 9999.99), 2),
            "c_mktsegment": seg, "c_email": email, "c_zip": zipc})
    orders = []
    for k in range(n_orders):
        prio = PRIORITIES[rng.randrange(len(PRIORITIES))]
        if k % 33 == 8:
            prio = rng.choice(DUMMY_BLANKS)               # dummy blanks
        orders.append({
            "o_orderkey": k, "o_custkey": rng.randrange(n_cust),
            "o_orderstatus": rng.choice("FOP"),
            "o_totalprice": round(rng.uniform(900, 2100)
                                  * rng.randrange(1, 120), 2),
            "o_orderdate": epoch + dt.timedelta(days=rng.randrange(6 * 365)),
            "o_orderpriority": prio})
    # exact duplicate rows (Dupe_Rows / Potential_Duplicates)
    orders.extend(dict(orders[i]) for i in
                  sorted(rng.sample(range(n_orders), n_orders // 100)))
    return {"customer": customer, "orders": orders}


STAR_SCHEMAS = {
    "customer": pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                           ("c_nationkey", pa.int32()),
                           ("c_acctbal", pa.float64()),
                           ("c_mktsegment", pa.string()),
                           ("c_email", pa.string()), ("c_zip", pa.string())]),
    "orders": pa.schema([("o_orderkey", pa.int64()),
                         ("o_custkey", pa.int64()),
                         ("o_orderstatus", pa.string()),
                         ("o_totalprice", pa.float64()),
                         ("o_orderdate", pa.timestamp("us")),
                         ("o_orderpriority", pa.string())]),
}


def write_star_group(out_dir: str, seed: int,
                     n_orders: int = 1500) -> dict[str, int]:
    """Write ``<table>.parquet`` for each of ``STAR_TABLES``; returns bytes
    per file."""
    os.makedirs(out_dir, exist_ok=True)
    rows = star_rows(seed, n_orders)
    return {t: _write(pa.Table.from_pylist(rows[t], STAR_SCHEMAS[t]),
                      os.path.join(out_dir, f"{t}.parquet"))
            for t in STAR_TABLES}


# ---------------------------------------------------------------------------
# corpus

STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
EN_WORDS = ("river stone market garden window letter morning village road "
            "teacher summer winter harbor forest bridge kitchen engine "
            "doctor island mountain paper story music school station "
            "weather animal family friend number city country table "
            "picture question answer season company history language "
            "evening journey lantern meadow orchard valley candle").split()
EN_GLUE = "a in is it for on was as at by from this are or".split()
FOREIGN = {
    "de": ("der die das und ist nicht mit auf fuer von dem den sich auch "
           "haus strasse fenster garten baum wasser stadt land zeit jahr "
           "arbeit kinder schule buch tisch wagen").split(),
    "fr": ("le la les et est pas avec sur pour dans une des sont aussi "
           "maison rue fenetre jardin arbre eau ville pays temps annee "
           "travail enfants ecole livre chaise voiture").split(),
}
COMMON_QUERY_WORD = "river"
# shares of an increment's documents in each tail (the rest are keepers)
DUP_SHARE, SHORT_SHARE, FOREIGN_SHARE = 0.05, 0.08, 0.10


def _en_doc(rng: random.Random, n_words: int) -> list[str]:
    """Every fifth word is the next stopword in turn, so a document of 10
    or more words holds at least two distinct ones."""
    words = []
    for i in range(n_words):
        r = rng.random()
        if i % 5 == 0:
            words.append(STOPWORDS[(i // 5) % len(STOPWORDS)])
        elif r < 0.2:
            words.append(EN_GLUE[rng.randrange(len(EN_GLUE))])
        else:
            words.append(EN_WORDS[rng.randrange(len(EN_WORDS))])
    return words


def _foreign_doc(rng: random.Random, lang: str, n_words: int) -> list[str]:
    vocab = FOREIGN[lang]
    return [vocab[rng.randrange(len(vocab))] for _ in range(n_words)]


def make_corpus(seed: int, n_docs: int, first_id: int = 0,
                n_queries: int = 0) -> dict:
    """One corpus increment: ``{"docs": [...], "keep": set(ids),
    "queries": [(query_id, text, planted_id)]}``.

    Layout by position (ids ascend): English documents of 55-95 words
    (the keepers), foreign-language documents (``lang`` de/fr), a short
    English tail below Gopher's 50-word minimum, and an exact-duplicate
    tail copying earlier keepers (later ids, so not canonical). The first
    ``n_queries`` keepers each carry one planted rare term."""
    rng = random.Random(seed)
    n_dup = int(n_docs * DUP_SHARE)
    n_short = int(n_docs * SHORT_SHARE)
    n_foreign = int(n_docs * FOREIGN_SHARE)
    n_en = n_docs - n_dup - n_short - n_foreign
    docs, keep, queries = [], set(), []
    for i in range(n_en):
        words = _en_doc(rng, rng.randrange(55, 96))
        if i < n_queries:
            term = f"planted{seed % 1000}x{i}"
            words.insert(rng.randrange(len(words)), term)
            queries.append((i, f"{term} {COMMON_QUERY_WORD}", first_id + i))
        docs.append((" ".join(words), "en"))
        keep.add(first_id + i)
    for _ in range(n_foreign):
        lang = "de" if rng.random() < 0.5 else "fr"
        docs.append((" ".join(_foreign_doc(rng, lang, rng.randrange(55, 96))),
                     lang))
    for _ in range(n_short):
        docs.append((" ".join(_en_doc(rng, rng.randrange(8, 40))), "en"))
    for _ in range(n_dup):
        docs.append(docs[rng.randrange(n_en)])
    rows = [{"doc_id": first_id + i, "text": text, "lang": lang}
            for i, (text, lang) in enumerate(docs)]
    return {"docs": rows, "keep": keep, "queries": queries}


def make_train(seed: int, per_lang: int = 80) -> list[dict]:
    """Labeled seed rows for the language classifier."""
    rng = random.Random(seed)
    rows = []
    for lang in ("en", *FOREIGN):
        for _ in range(per_lang):
            words = (_en_doc(rng, rng.randrange(40, 80)) if lang == "en"
                     else _foreign_doc(rng, lang, rng.randrange(40, 80)))
            rows.append({"doc_id": len(rows), "text": " ".join(words),
                         "lang": lang})
    return rows


DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string())])


def write_docs(rows: list[dict], path: str) -> int:
    return _write(pa.Table.from_pylist(rows, DOC_SCHEMA), path)
