"""Seeded input generators for the three workloads.

Every generator is a pure function of (seed, size): the same seed writes
byte-identical inputs. The program under test only ever sees the files
written here.

- sentiment_csv: a headerless CSV shaped like Sentiment140
  (sentiment, id, date, query, user, text), with rows that `dropAnyNull`
  must drop (an empty field reads as null) and rows whose text cleans to
  the empty string.
- curate_documents: a `documents` table expanded by alphabet rotation
  (copy k rotates the lowercase alphabet by k, as the repo's scale bench
  does), with planted exact and near duplicates.
- query_fixtures: the ten fixture tables the declared queries read,
  with the schemas and value domains of the repo's testdata tables.
"""
import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

POS = ["good", "great", "excellent", "love", "wonderful", "best", "happy",
       "amazing", "awesome", "nice"]
NEG = ["bad", "awful", "terrible", "hate", "worst", "poor", "sad", "boring",
       "annoying", "broken"]
NOISE = ["the", "movie", "film", "plot", "actor", "scene", "was", "very",
         "today", "really", "just", "going", "work", "day", "time"]

# the 30-word vocabulary of the testdata `documents` table
DOC_VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column",
             "filter", "small", "slow", "merge", "order", "vector", "line",
             "data", "table", "agg", "value", "key", "stream", "window",
             "spark", "a", "group", "part", "big", "sort", "query", "fast",
             "the"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
ALPHABET = "abcdefghijklmnopqrstuvwxyz"
CSV_FILES = 8


def _rng(seed, salt):
    return np.random.default_rng([int(seed), salt])


def sentiment_csv(path, seed, rows):
    """Write the raw CSV; return the number of rows the clean chain must
    keep (rows minus null rows minus rows that clean to empty)."""
    rng = _rng(seed, 1)
    os.makedirs(path, exist_ok=True)
    kind = rng.random(rows)
    label = rng.integers(0, 2, rows)
    n_words = rng.integers(6, 16, rows)
    class_share = rng.random((rows, 16))
    class_pick = rng.integers(0, 10, (rows, 16))
    noise_pick = rng.integers(0, len(NOISE), (rows, 16))
    mention = rng.integers(0, 10000, rows)
    flip = rng.random(rows)
    keep = 0
    # several files, like a split upload, so the scan has several partitions
    files = [open(os.path.join(path, f"part-{k:05d}.csv"), "w", newline="")
             for k in range(CSV_FILES)]
    writers = [csv.writer(f, lineterminator="\n") for f in files]
    try:
        for i in range(rows):
            w = writers[i * CSV_FILES // rows]
            user = f"user_{int(mention[i]) % 5000}"
            if kind[i] < 0.02:
                # a null field: dropAnyNull removes the row
                w.writerow([4 * int(label[i]), str(i), "Mon Apr 06 22:19:45 PDT 2009",
                            "NO_QUERY", "", f"@x{i} just a row"])
                continue
            if kind[i] < 0.04:
                # only mention, URL, hashtag marks and digits: cleans to ""
                text = f"@user{int(mention[i])} http://t.co/{i} #{i % 97} 123 !!"
            else:
                # label noise, as in the real corpus: the text of one row
                # in five is drawn from the other class
                vocab = POS if label[i] != (flip[i] < 0.2) else NEG
                words = [vocab[class_pick[i, j]] if class_share[i, j] < 0.3
                         else NOISE[noise_pick[i, j]] for j in range(n_words[i])]
                text = (f"@user{int(mention[i])} " + " ".join(words) +
                        f" #tag{i % 97} http://t.co/x{i % 997}!!")
                keep += 1
            w.writerow([4 * int(label[i]), str(i), "Mon Apr 06 22:19:45 PDT 2009",
                        "NO_QUERY", user, text])
    finally:
        for f in files:
            f.close()
    return keep


def _doc_text(rng, n):
    return " ".join(DOC_VOCAB[j] for j in rng.integers(0, len(DOC_VOCAB), n))


def _documents(rng, n):
    """The testdata `documents` shape: word soup, 10-99 tokens, with a
    few planted ' dup'-suffixed copies of earlier documents."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup")
        else:
            texts.append(_doc_text(rng, int(rng.integers(10, 100))))
    lang = rng.choice(LANGS, n, p=LANG_P)
    source = [f"src{j}" for j in rng.integers(0, 20, n)]
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": list(lang), "source": source,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def curate_documents(path, seed, base_docs, copies):
    """Write `documents.parquet` under `path`: `base_docs` documents,
    each expanded into `copies` alphabet-rotated copies, then planted
    duplicates. Return (rows, planted duplicate share)."""
    rng = _rng(seed, 2)
    base = _documents(rng, base_docs)
    texts, langs, sources = [], [], []
    for k in range(copies):
        rot = str.maketrans(ALPHABET, ALPHABET[k:] + ALPHABET[:k])
        texts += [t.translate(rot) for t in base["text"]]
        langs += base["lang"]
        sources += base["source"]
    # planted duplicates: exact copies with the word order permuted (the
    # bag-of-words fingerprint collides) and near copies with one word
    # replaced (MinHash near-duplicate pairs)
    n_orig = len(texts)
    n_exact = n_orig // 20
    n_near = n_orig // 20
    for j in range(n_exact + n_near):
        src = int(rng.integers(0, n_orig))
        words = texts[src].split(" ")
        if j < n_exact:
            rng.shuffle(words)
        else:
            words[int(rng.integers(0, len(words)))] = DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]
        texts.append(" ".join(words))
        langs.append(langs[src])
        sources.append(sources[src])
    n = len(texts)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": langs,
        "source": sources,
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        os.path.join(path, "documents.parquet"))
    return n, (n_exact + n_near) / n


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return base + (np.asarray(seconds) * 1_000_000).astype("timedelta64[us]")


def _write(path, name, cols):
    pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))


def query_fixtures(path, seed, sf):
    """Write the ten fixture tables at scale factor `sf` (lineitem has
    6M x sf rows, as in the testdata tables)."""
    rng = _rng(seed, 3)
    os.makedirs(path, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = 500
    _write(path, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(path, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(path, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": list(rng.choice(segs, n_cust))})
    _write(path, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    types = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
    _write(path, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(types, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    day0 = dt.date(1995, 1, 1)
    _write(path, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(day0.isoformat(), rng.integers(0, 2400, n_ord) * 86400),
        "o_orderpriority": list(rng.choice(prio, n_ord))})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, n_line).astype(np.int64)
    _write(path, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(day0.isoformat(), rng.integers(1, 2500, n_line) * 86400)})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    _write(path, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
        "event_type": list(rng.choice(["signup", "click", "purchase", "error", "view"], n_ev)),
        "value": np.maximum(0.01, np.round(rng.exponential(49.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(path, "documents", _documents(rng, n_docs))
    n_emb = 500
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    emb = centers[label] * 0.3 + rng.normal(0, 1, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(path, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})
    return {"lineitem": n_line, "orders": n_ord, "events": n_ev,
            "documents": n_docs, "embeddings": n_emb}
