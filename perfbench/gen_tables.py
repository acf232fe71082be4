"""Fixed tables for the benchmark's query mix.

Writes the `documents` and `lineitem` parquet files with the schemas the
declared queries read (`graft.core.Tables`), at
a small fixed size: the mix is bound by driver round trips, not by data
volume. A third of the documents are near-duplicates of earlier ones, so
the set-similarity and LSH queries have pairs to find. The tables do not
depend on the run's seed; the seed only orders the queries.
"""
import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq

from gen_takeout import Rng

WORDS = ("the query row stream merge table order window column part vector a "
         "join slow scan agg key data sort batch filter big hash value dup fast "
         "small customer line group spark").split()
LANGS = ["en", "de", "es", "fr", "zh"]
N_DOCS, N_SUPP, N_PART, N_ORDERS = 240, 10, 200, 1500
EPOCH = datetime.datetime(2024, 1, 1)


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.below(3) == 0:
            words = texts[rng.below(i)].split(" ")
            for _ in range(1 + rng.below(3)):
                words[rng.below(len(words))] = WORDS[rng.below(len(WORDS))]
        else:
            words = [WORDS[rng.below(len(WORDS))] for _ in range(12 + rng.below(70))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[rng.below(len(LANGS))] for _ in texts], pa.string()),
        "source": pa.array([f"src{rng.below(20)}" for _ in texts], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def money(rng, lo, hi):
    return round(lo + (hi - lo) * rng.unit(), 2)


def stamp(rng, days):
    return EPOCH + datetime.timedelta(seconds=rng.below(days * 86400))


def lineitem(rng):
    cols = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                            "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                            "l_linestatus", "l_shipdate"]}
    for o in range(N_ORDERS):
        for ln in range(1, 2 + rng.below(7)):
            q = float(1 + rng.below(50))
            cols["l_orderkey"].append(o)
            cols["l_partkey"].append(rng.below(N_PART))
            cols["l_suppkey"].append(rng.below(N_SUPP))
            cols["l_linenumber"].append(ln)
            cols["l_quantity"].append(q)
            cols["l_extendedprice"].append(round(q * money(rng, 900, 2000), 2))
            cols["l_discount"].append(rng.below(11) / 100.0)
            cols["l_tax"].append(rng.below(9) / 100.0)
            cols["l_returnflag"].append("RAN"[rng.below(3)])
            cols["l_linestatus"].append("OF"[rng.below(2)])
            cols["l_shipdate"].append(stamp(rng, 2500))
    types = {"l_orderkey": pa.int64(), "l_partkey": pa.int64(), "l_suppkey": pa.int64(),
             "l_linenumber": pa.int32(), "l_shipdate": pa.timestamp("us"),
             "l_returnflag": pa.string(), "l_linestatus": pa.string()}
    return pa.table({k: pa.array(v, types.get(k, pa.float64())) for k, v in cols.items()})


def write_tables(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    rng = Rng(0x7AB1E5)
    tables = {"documents": documents(rng), "lineitem": lineitem(rng)}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return sorted(tables)
