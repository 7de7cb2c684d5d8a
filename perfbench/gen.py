"""Seeded input generators for the benchmark.

Inputs are made in Python (numpy + pyarrow), independent of the engine
under test, so a change to the program can never change what it is fed.
The same seed always gives byte-identical files.

* ``tables``: the star-schema tables the Qa-Qh analogs read (orders,
  lineitem, customer, part, events) at the row counts and value ranges
  of the sf0.1 testdata, written like that testdata: one
  parquet file per table, one row group, ``timestamp[us]`` columns.
* ``corpus``: a ``documents`` table for the corpus pipeline with stated
  shares of unique documents, exact duplicates and near duplicates
  (token edits), plus planted PII, repetitive and boilerplate documents,
  and a ``benchmark`` table (the decontamination eval set) that overlaps
  the corpus.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {"customer": 15000, "part": 20000, "orders": 150000,
             "lineitem": 600000, "events": 100000}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new",
            "green", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "screw", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# corpus composition (shares of the generated documents)
CORPUS_DOCS = 600
SHARE_EXACT_DUP = 0.15
SHARE_NEAR_DUP = 0.15
SHARE_PII = 0.10          # of the unique documents
SHARE_REPETITIVE = 0.04   # of the unique documents
SHARE_BOILERPLATE = 0.04  # of the unique documents
BENCHMARK_FROM_CORPUS = 12
BENCHMARK_FRESH = 12
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(table, path):
    # one row group, like the sf0.1 testdata
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, n_days, size)).astype("datetime64[us]")


def write_tables(out_dir, seed):
    """The Qa-Qh input tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = SF01_ROWS

    ck = np.arange(n["customer"], dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, ck.size).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, ck.size), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)],
    }), f"{out_dir}/customer.parquet")

    pk = np.arange(n["part"], dtype=np.int64)
    names = np.char.add(np.char.add(
        np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), pk.size)], " "),
        np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), pk.size)])
    _write(pa.table({
        "p_partkey": pk,
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, pk.size).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), pk.size)],
        "p_size": rng.integers(1, 51, pk.size).astype(np.int32),
        "p_retailprice": np.round(900.0 + pk * 0.1 % 1200, 2),
    }), f"{out_dir}/part.parquet")

    ok = np.arange(n["orders"], dtype=np.int64)
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], ok.size),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, ok.size)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, ok.size), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, ok.size),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ok.size)],
    }), f"{out_dir}/orders.parquet")

    m = n["lineitem"]
    _write(pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, 1000, m),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, m), 2),
        "l_discount": np.round(rng.integers(0, 11, m) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, m) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, m),
    }), f"{out_dir}/lineitem.parquet")

    e = n["events"]
    secs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, e))
    _write(pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 2000, e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.uniform(0.0, 200.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    }), f"{out_dir}/events.parquet")


def _vocab(rng, size=3000):
    syl = ["ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa", "zu",
           "ho", "ge", "bi", "fa", "ri", "no", "te", "la", "mo"]
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(syl[int(i)] for i in rng.integers(0, len(syl), k)))
    return sorted(words)


def corpus_docs(seed):
    """(docs, benchmark, planted): docs and benchmark are lists of
    (doc_id, text, lang, source) tuples; planted maps the id that
    ``dedupExact`` keeps for each distinct text (its smallest doc_id) to
    ``(group, kind)``. A group is one unique document with its exact and
    near copies; kind is ``plain``, ``pii``, ``repetitive`` or
    ``boilerplate`` (the shared template)."""
    rng = np.random.default_rng([seed, 2])
    vocab = _vocab(rng)
    stop = ["the", "a", "of", "and", "to"]

    def sentence(k):
        toks = [vocab[int(i)] for i in rng.integers(0, len(vocab), k)]
        for pos in rng.integers(0, k, max(1, k // 12)):
            toks[int(pos)] = stop[int(rng.integers(0, len(stop)))]
        return toks

    n_near = int(CORPUS_DOCS * SHARE_NEAR_DUP)
    n_dup = int(CORPUS_DOCS * SHARE_EXACT_DUP)
    n_unique = CORPUS_DOCS - n_near - n_dup
    template = sentence(40)
    unique, kinds = [], []
    for i in range(n_unique):
        toks = sentence(int(rng.integers(30, 90)))
        r = rng.random()
        kind = "plain"
        if r < SHARE_PII:
            toks += [f"user{i}@example.com", "call",
                     f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}",
                     f"10.0.{i % 250}.{int(rng.integers(1, 250))}"]
            kind = "pii"
        elif r < SHARE_PII + SHARE_REPETITIVE:
            toks = (toks[:4] * 12)[:48]
            kind = "repetitive"
        elif r < SHARE_PII + SHARE_REPETITIVE + SHARE_BOILERPLATE:
            toks = template + toks[:int(rng.integers(3, 10))]
            kind = "boilerplate"
        unique.append(" ".join(toks))
        kinds.append(kind)
    texts = list(unique)
    groups = list(range(n_unique))
    for _ in range(n_dup):
        j = int(rng.integers(0, n_unique))
        texts.append(unique[j])
        groups.append(j)
    for _ in range(n_near):
        j = int(rng.integers(0, n_unique))
        toks = unique[j].split(" ")
        for _ in range(int(rng.integers(1, 4))):
            toks[int(rng.integers(0, len(toks)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(toks))
        groups.append(j)
    order = rng.permutation(len(texts))
    langs = np.array(LANGS)[rng.choice(len(LANGS), len(texts), p=LANG_P)]
    docs = [(int(i), texts[int(j)], str(langs[i]), f"src{i % 20}")
            for i, j in enumerate(order)]
    bench = [(1_000_000 + k, unique[int(j)], "en", "bench")
             for k, j in enumerate(rng.choice(n_unique, BENCHMARK_FROM_CORPUS, replace=False))]
    bench += [(2_000_000 + k, " ".join(sentence(40)), "en", "bench")
              for k in range(BENCHMARK_FRESH)]
    # doc ids ascend, so the first id seen for a text is the one kept
    planted, seen = {}, set()
    for doc_id, j in enumerate(order):
        if texts[int(j)] not in seen:
            seen.add(texts[int(j)])
            g = groups[int(j)]
            planted[doc_id] = (g, kinds[g])
    return docs, bench, planted


def _docs_table(rows):
    return pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": [r[1] for r in rows],
        "lang": [r[2] for r in rows],
        "source": [r[3] for r in rows],
        "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
    })


def write_corpus(out_dir, seed):
    """documents.parquet + benchmark.parquet for ``seed``; returns the
    generator's own facts that the run checks against."""
    os.makedirs(out_dir, exist_ok=True)
    docs, bench, planted = corpus_docs(seed)
    _write(_docs_table(docs), f"{out_dir}/documents.parquet")
    _write(_docs_table(bench), f"{out_dir}/benchmark.parquet")
    return {"input_rows": len(docs), "distinct_texts": len(planted), "planted": planted}
