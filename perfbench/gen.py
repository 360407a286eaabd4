"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of (seed, size): it draws from one
numpy PCG64 stream and writes files whose bytes depend on nothing else,
so the same seed gives byte-identical inputs. `generate` returns the
input digest and the sizes every run records (files, docs, bytes,
distinct terms, dup fraction).
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of the measured inputs and of the small untimed warmup inputs.
SIZES = {
    "refjob": {"full": dict(files=128, words=3000, vocab=30000, k=8),
               "warm": dict(files=64, words=3000, vocab=30000, k=8)},
    "corpus": {"full": dict(docs=1200, vocab=8000, exact=0.08, near=0.12,
                            searches=2),
               "warm": dict(docs=400, vocab=2000, exact=0.08, near=0.12,
                            searches=1)},
    "queries": {"full": dict(scale=0.005), "warm": dict(scale=0.001)},
}

STOPWORDS = ("a an and are as at be by for from has he in is it its of on "
             "that the to was were will with this or not but").split()

_ONSETS = ["b", "c", "d", "f", "g", "h", "k", "l", "m", "n", "p", "r", "s",
           "t", "v", "w", "br", "cl", "dr", "gr", "pl", "st", "tr", "sh", "ch"]
_VOWELS = ["a", "e", "i", "o", "u", "ai", "ea", "ou"]
_SUFFIXES = ["", "", "", "s", "ing", "ed", "er", "ation", "ness", "ly",
             "ies", "ment", "able", "ful", "ize", "ization"]


def _vocab(rng, n):
    """n distinct pronounceable words with English suffixes, so the
    Porter stemmer has real work and several words share a stem."""
    out, seen = [], set()
    while len(out) < n:
        syl = rng.integers(1, 4)
        w = "".join(_ONSETS[rng.integers(len(_ONSETS))] +
                    _VOWELS[rng.integers(len(_VOWELS))] for _ in range(syl))
        w += _SUFFIXES[rng.integers(len(_SUFFIXES))]
        if w not in seen and w not in STOPWORDS:
            seen.add(w)
            out.append(w)
    return out


def _zipf_ids(rng, n_vocab, size, s=1.07):
    """Zipf-distributed word ranks in [0, n_vocab)."""
    ranks = np.arange(1, n_vocab + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    return rng.choice(n_vocab, size=size, p=p)


def _write(path, data, digest):
    if not path.startswith(_DRY):
        with open(path, "wb") as f:
            f.write(data)
    digest.update(os.path.basename(path).encode() + b"\0" + data)
    return len(data)


# Output root that `generate(..., write=False)` uses: nothing under it is
# written, only digested.
_DRY = "\0dry"


def _makedirs(path):
    if not path.startswith(_DRY):
        os.makedirs(path)


def _parquet_bytes(table):
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink, compression="snappy")
    return sink.getvalue().to_pybytes()


def gen_refjob(rng, out, files, words, vocab, k):
    """`<id>.txt` browsing-log pages (ids 1..files), a stopwords file and
    K centers in the reference's `[x1,...,xN,]` line format."""
    digest = hashlib.sha256()
    # Zipf rank r gets the word at a fixed position of the vocabulary
    # sorted by length: the frequent words' lengths, and so the bytes
    # per pass, then barely change with the seed
    by_len = sorted(_vocab(rng, vocab), key=lambda w: (len(w), w))
    v = [by_len[i] for i in np.random.Generator(np.random.PCG64(0)).permutation(vocab)]
    docs_dir = os.path.join(out, "docs")
    _makedirs(docs_dir)
    nbytes, distinct = 0, set()
    punct = np.array(["", "", "", "", "", "", ",", ".", "!", "?", ":", ";"])
    pool = _zipf_ids(rng, len(v), int(files * words * 1.5))
    pos = 0
    # page lengths 0.5x..1.5x `words` in seed order: the total, and so
    # the work per pass, is the same for every seed
    lengths = rng.permutation([int(words * (0.5 + i / files)) for i in range(files)])
    for doc_id, n in enumerate(lengths, start=1):
        ids = pool[pos:pos + n]
        pos += n
        stop = rng.random(n) < 0.2
        caps = rng.random(n) < 0.05
        marks = punct[rng.integers(len(punct), size=n)]
        toks = []
        for i, wid in enumerate(ids):
            w = STOPWORDS[wid % len(STOPWORDS)] if stop[i] else v[wid]
            if not stop[i]:
                distinct.add(wid)
            if caps[i]:
                w = w.capitalize()
            toks.append(w + marks[i])
        lines = [" ".join(toks[j:j + 12]) for j in range(0, len(toks), 12)]
        nbytes += _write(os.path.join(docs_dir, f"{doc_id}.txt"),
                         ("\n".join(lines) + "\n").encode(), digest)
    _write(os.path.join(out, "stopwords.txt"),
           (" ".join(STOPWORDS) + "\n").encode(), digest)
    centers = rng.random((k, files))
    _write(os.path.join(out, "centers.txt"),
           "".join("[" + "".join(f"{x:.4f}," for x in row) + "]\n"
                   for row in centers).encode(), digest)
    return digest.hexdigest(), dict(files=files, docs=files, bytes=nbytes,
                                    distinct_terms=len(distinct),
                                    dup_frac=0.0)


LANGS = ["en", "de", "es", "fr", "zh"]


def gen_corpus(rng, out, docs, vocab, exact, near, searches):
    """documents(doc_id, text, lang, source, n_chars) with a Zipf
    vocabulary; `exact` of the docs copy an earlier doc's text and
    `near` copy one with ~5% of words replaced. About 4% are too short
    for the quality stage. Also writes the search stream, one
    whitespace query per line."""
    digest = hashlib.sha256()
    v = _vocab(rng, vocab)
    texts = []
    kind = rng.random(docs)
    pool = _zipf_ids(rng, len(v), docs * 90)
    pos = 0
    for i in range(docs):
        if i > 10 and kind[i] < exact:
            texts.append(texts[rng.integers(i)])
        elif i > 10 and kind[i] < exact + near:
            src = texts[rng.integers(i)].split(" ")
            for j in np.nonzero(rng.random(len(src)) < 0.05)[0]:
                src[j] = v[pool[pos]]
                pos += 1
            texts.append(" ".join(src))
        else:
            n = 4 if rng.random() < 0.04 else int(rng.integers(20, 80))
            texts.append(" ".join(v[w] for w in pool[pos:pos + n]))
            pos += n
    lang = [LANGS[0] if r < 0.8 else LANGS[1 + int(r * 40) % 4]
            for r in rng.random(docs)]
    source = [f"src{s}" for s in rng.integers(0, 20, size=docs)]
    table = pa.table({
        "doc_id": pa.array(range(docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(source, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _makedirs(os.path.join(out, "tables"))
    nbytes = _write(os.path.join(out, "tables", "documents.parquet"),
                    _parquet_bytes(table), digest)
    # query terms: mid-frequency ranks, 1-3 words each
    qs = []
    for _ in range(searches):
        n = int(rng.integers(1, 4))
        qs.append(" ".join(v[int(r)] for r in rng.integers(5, min(2000, len(v)), size=n)))
    _write(os.path.join(out, "searches.txt"), ("\n".join(qs) + "\n").encode(),
           digest)
    distinct = len({w for t in texts for w in t.split(" ")})
    return digest.hexdigest(), dict(files=1, docs=docs, bytes=nbytes,
                                    distinct_terms=distinct,
                                    dup_frac=round(1 - len(set(texts)) / docs, 6))


# Value domains of the fixture tables the registered queries are
# written against (the oracle SQL filters on these literals).
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ("join hash row batch scan customer column filter small slow "
             "merge order vector line data table agg value key stream "
             "window spark a group part big sort query fast the").split()

_DAY_US = 86400 * 1_000_000
_EPOCH_1995 = 788918400 * 1_000_000   # 1995-01-01T00:00:00Z
_EPOCH_2024 = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_queries(rng, out, scale):
    """The ten fixture tables (region ... embeddings) with the fixture
    schemas and value domains; row counts scale like the sf fixtures
    (lineitem = 6M x scale)."""
    digest = hashlib.sha256()
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(60, int(200_000 * scale))
    n_ord = max(300, int(1_500_000 * scale))
    n_li = max(1200, int(6_000_000 * scale))
    n_ev = max(500, int(1_000_000 * scale))
    n_docs, n_emb = 500, 500
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(
            [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)])})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array([PART_ADJ[a] + " " + PART_NOUN[b] for a, b in
                            zip(rng.integers(0, 8, n_part),
                                rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array([PART_TYPES[t] for t in
                            rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array([900.0 + (i % 1000) / 10.0
                                   for i in range(n_part)])})
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[s] for s in
                                   rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_EPOCH_1995 + odays * _DAY_US,
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[p] for p in
                                     rng.integers(0, 5, n_ord)])})
    l_ord = np.sort(rng.integers(0, n_ord, n_li))
    lnum = np.ones(n_li, dtype=np.int64)
    for i in range(1, n_li):
        if l_ord[i] == l_ord[i - 1]:
            lnum[i] = lnum[i - 1] + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.minimum(lnum, 7), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[f] for f in
                                  rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array([("F", "O")[f] for f in
                                  rng.integers(0, 2, n_li)]),
        "l_shipdate": pa.array(_EPOCH_1995 + (odays[l_ord] + rng.integers(1, 122, n_li)) * _DAY_US,
                               pa.timestamp("us"))})
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[e] for e in
                                rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(i)] + " dup")
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(DOC_WORDS[w] for w in
                                  rng.integers(0, len(DOC_WORDS), n)))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[0] if r < 0.6 else LANGS[1 + int(r * 40) % 4]
                          for r in rng.random(n_docs)]),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    tdir = os.path.join(out, "tables")
    _makedirs(tdir)
    nbytes = 0
    for name in sorted(tables):
        nbytes += _write(os.path.join(tdir, f"{name}.parquet"),
                         _parquet_bytes(tables[name]), digest)
    distinct = len({w for t in texts for w in t.split(" ")})
    return digest.hexdigest(), dict(files=len(tables), docs=n_docs,
                                    bytes=nbytes, distinct_terms=distinct,
                                    dup_frac=round(1 - len(set(texts)) / n_docs, 6))


GENERATORS = {"refjob": gen_refjob, "corpus": gen_corpus,
              "queries": gen_queries}


def generate(workload, size, seed, out, write=True):
    """Write workload inputs for `seed` under `out` (must not exist);
    with write=False only compute the digest and sizes. The warmup
    inputs use a seed stream disjoint from the measured one."""
    out = str(out) if write else _DRY
    _makedirs(out)
    rng = np.random.Generator(np.random.PCG64([seed, size == "warm"]))
    return GENERATORS[workload](rng, out, **SIZES[workload][size])
