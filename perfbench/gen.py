"""Seeded input generators for the benchmark workloads.

Every table is a pure function of (seed, size): numpy's PCG64 stream plus
pyarrow's parquet writer, so the same seed writes byte-identical files.

* ``frame_tables``: the TPC-H-like star schema plus the ``events`` table,
  with the column names, types and value domains of the repository's
  testdata, at a given scale factor (sf 0.1 is ~600k lineitem rows).
  (l_orderkey, l_linenumber) and events.ts are unique, so every ordered
  query (rolling, ewm, keep-first dedup) has one correct answer.
* ``corpus``: documents of six paragraphs of Zipf-distributed words.
  Planted rows: exact duplicates, near duplicates (one paragraph
  edited, 3-shingle Jaccard ~0.9 to the source) and low-quality
  documents (too short, or one paragraph repeated) that the Gopher gates
  drop.  A planted copy's source is always an original, quality document
  from an earlier ingest batch.
"""
import bisect
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131 * US_PER_DAY          # 1995-01-01
ORDER_DAYS = 2404                       # orders until 2001-08-01
EVENTS_START = 19723 * US_PER_DAY       # 2024-01-01
EVENTS_SPAN = 30 * US_PER_DAY

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Corpus shape: ~1.7 KB per document, as in the measured production mix.
PARAGRAPHS = 6
PARA_WORDS = (25, 50)
VOCAB = 20_000
STOPWORDS = ["the", "of", "and", "to", "that", "with", "have", "be"]
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.05
LOW_QUALITY_RATE = 0.04
# words replaced in one paragraph of a near duplicate: 3-shingle Jaccard
# ~0.9 to its source
NEAR_DUP_EDITS = 4


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _cents(rng, lo, hi, n):
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _ts(us):
    return pa.array(us, pa.timestamp("us"))


def frame_tables(out_dir, seed, sf):
    """Writes customer, orders, lineitem and events parquet at scale `sf`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = int(150_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_users = int(15_000 * sf)
    n_ev = int(1_000_000 * sf)

    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")

    odate = EPOCH_1995 + rng.integers(0, ORDER_DAYS + 1, n_ord) * US_PER_DAY
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    lnum = (np.arange(n_li) - starts + 1).astype(np.int32)
    ship = np.repeat(odate, lines) + rng.integers(1, 122, n_li) * US_PER_DAY
    _write(pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, int(200_000 * sf), n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, int(10_000 * sf), n_li, dtype=np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship),
    }), f"{out_dir}/lineitem.parquet")

    # strictly increasing instants, then shuffled across event ids
    ts = np.sort(rng.integers(0, EVENTS_SPAN - n_ev, n_ev)) + np.arange(n_ev)
    rng.shuffle(ts)
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(EVENTS_START + ts),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.minimum(np.round(rng.exponential(50.0, n_ev), 2), 560.0),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{out_dir}/events.parquet")
    return {"lineitem_rows": n_li, "orders_rows": n_ord, "events_rows": n_ev,
            "customer_rows": n_cust}


def _vocabulary(rng):
    syll = np.array(["ka", "lo", "mi", "ran", "te", "su", "vor", "pel",
                     "dan", "ri", "no", "bel", "tas", "qui", "mor", "en"])
    n = rng.integers(2, 5, VOCAB)
    picks = rng.integers(0, len(syll), (VOCAB, 4))
    words = {"".join(syll[picks[i, :n[i]]]) for i in range(VOCAB)}
    words = sorted(words - set(STOPWORDS))
    rng.shuffle(words)
    vocab = np.array(STOPWORDS + words)
    p = 1.0 / np.arange(1, len(vocab) + 1)
    return vocab, p / p.sum()


class _Paragraphs:
    def __init__(self, rng):
        self.rng = rng
        self.vocab, self.p = _vocabulary(rng)

    def make(self, count):
        lens = self.rng.integers(PARA_WORDS[0], PARA_WORDS[1] + 1, count)
        words = self.vocab[self.rng.choice(len(self.vocab), int(lens.sum()),
                                           p=self.p)]
        out, i = [], 0
        for n in lens:
            w = words[i:i + n]
            i += n
            out.append(w[0].capitalize() + " " + " ".join(w[1:]) + ".")
        return out


def corpus(n_docs, seed, batch):
    """Returns (doc_id, text) lists plus the planted-duplicate manifest.

    Ids [b*batch, (b+1)*batch) form batch b; a copy's source is an
    original document of an earlier batch.
    """
    rng = np.random.default_rng([seed, 2])
    gen = _Paragraphs(rng)
    kind = rng.choice(4, n_docs, p=[
        1 - EXACT_DUP_RATE - NEAR_DUP_RATE - LOW_QUALITY_RATE,
        EXACT_DUP_RATE, NEAR_DUP_RATE, LOW_QUALITY_RATE])
    kind[:batch] = 0
    paras = gen.make(n_docs * PARAGRAPHS)
    texts, originals = [], []
    exact, near, low = [], [], []
    for i in range(n_docs):
        own = paras[i * PARAGRAPHS:(i + 1) * PARAGRAPHS]
        k = kind[i]
        pool = bisect.bisect_left(originals, (i // batch) * batch)
        if k in (1, 2) and pool == 0:
            k = 0
        if k == 0:
            texts.append("\n\n".join(own))
            originals.append(i)
        elif k == 3:
            low.append(i)
            if rng.random() < 0.5:
                texts.append(own[0][:120])
            else:
                texts.append("\n\n".join([own[0]] * PARAGRAPHS))
        else:
            src = originals[rng.integers(0, pool)]
            if k == 1:
                texts.append(texts[src])
                exact.append([i, src])
            else:
                sp = texts[src].split("\n\n")
                p = rng.integers(0, PARAGRAPHS)
                words = sp[p].split(" ")
                fresh = own[0].split(" ")
                for j in rng.choice(len(words), NEAR_DUP_EDITS, replace=False):
                    words[j] = fresh[j % len(fresh)]
                sp[p] = " ".join(words)
                texts.append("\n\n".join(sp))
                near.append([i, src])
    manifest = {"docs": n_docs, "exact_dups": exact, "near_dups": near,
                "low_quality": low}
    return list(range(n_docs)), texts, manifest


def _doc_table(ids, texts, rng):
    """Documents with a seeded random binary label `y` for the quality
    classifier."""
    return pa.table({"doc_id": pa.array(ids, pa.int64()),
                     "text": pa.array(texts),
                     "y": pa.array(rng.integers(0, 2, len(ids)), pa.int32())})


def ingest_inputs(out_dir, seed, n_batches, batch, base_batches):
    """File 0 holds the first `base_batches` batches of the stream, the
    base corpus that set-up ingests; files 1..n_batches hold one batch
    each, the timed ingest ops."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 3])
    ids, texts, manifest = corpus((base_batches + n_batches) * batch, seed,
                                  batch)
    bounds = [0] + [(base_batches + b) * batch for b in range(n_batches + 1)]
    for f, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        _write(_doc_table(ids[lo:hi], texts[lo:hi], rng),
               f"{out_dir}/{f:05d}.parquet")
    manifest["file_docs"] = bounds[1:]
    manifest["file_text_bytes"] = [
        sum(len(t.encode()) for t in texts[lo:hi])
        for lo, hi in zip(bounds, bounds[1:])]
    with open(f"{out_dir}/manifest.json", "w") as f:
        json.dump(manifest, f)
    return {"base_docs": bounds[1], "batch_docs": batch,
            "batches": n_batches,
            "text_bytes": sum(manifest["file_text_bytes"]),
            "exact_dups": len(manifest["exact_dups"]),
            "near_dups": len(manifest["near_dups"]),
            "low_quality": len(manifest["low_quality"])}


def tree_digest(root):
    """sha256 over every file's relative path and bytes, in path order."""
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(root):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
