"""Seeded input generator for the benchmark workloads.

Every input is a pure function of (workload, seed, sizes in spec.json):
the same seed always writes byte-identical parquet files, and the
digest of those files is recorded beside them in DIGEST.

The tables mirror the schemas of the engine's test tables (orders,
events, documents). Ground truth that only the output
checks read (which documents are seeded duplicates of which) goes to
files whose names start with ``truth_``.

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))

STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for",
             "with", "as", "on", "was", "by", "this", "be", "are", "from", "at"]
SYLLABLES = ["ka", "lo", "mi", "ten", "ra", "vo", "sen", "du", "pri", "zel",
             "an", "qu", "tor", "bel", "mun", "ix", "da", "fer", "go", "lim"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.6, 0.1, 0.1, 0.1, 0.1]
DAY_US = 86_400_000_000


def load_spec():
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def rng_for(seed, salt):
    return np.random.default_rng([int(seed), salt])


def us_from_date(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_array(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def write(out, name, table):
    pq.write_table(table, os.path.join(out, name + ".parquet"),
                   compression="snappy")


# ---- tables -------------------------------------------------------------

def orders(rng, n, n_cust):
    start, end = us_from_date(1995, 1, 1), us_from_date(2001, 8, 1)
    days = rng.integers(0, (end - start) // DAY_US + 1, n)
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": ts_array(start + days * DAY_US),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)),
    })


def events(rng, n, n_users):
    start = us_from_date(2024, 1, 1)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], n)),
        "value": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 1000, n)]),
    })


def vocabulary(rng, size):
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        words.add("".join(rng.choice(SYLLABLES, k)))
    return STOPWORDS + sorted(words)


def doc_texts(rng, n, vocab):
    """Zipf-weighted token streams; 1 in 10 documents carries markup or
    an e-mail address so the cleaning kernels have work to do."""
    ranks = np.arange(1, len(vocab) + 1, dtype=np.float64)
    p = ranks ** -1.05
    p /= p.sum()
    lens = rng.integers(30, 80, n)
    toks = rng.choice(len(vocab), int(lens.sum()), p=p)
    noise = rng.integers(0, 10, n)
    texts, at = [], 0
    for i in range(n):
        words = [vocab[t] for t in toks[at:at + lens[i]]]
        at += lens[i]
        if noise[i] == 0:
            words.insert(len(words) // 2, f"<b>{words[0]}</b>")
        elif noise[i] == 1:
            words.append(f"user{i}@example.com")
        texts.append(" ".join(words))
    return texts


def documents(rng, n, vocab):
    texts = doc_texts(rng, n, vocab)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n)]),
    }


def doc_table(cols):
    return pa.table({
        "doc_id": pa.array(cols["doc_id"]),
        "text": pa.array(cols["text"]),
        "lang": pa.array(cols["lang"]),
        "source": pa.array(cols["source"]),
        "n_chars": pa.array(np.array([len(t) for t in cols["text"]], dtype=np.int64)),
    })


def perturb(rng, text, vocab):
    """One token replaced by a different vocabulary word: a near
    duplicate whose 3-shingle Jaccard with its source stays >= 0.8."""
    words = text.split(" ")
    i = int(rng.integers(1, len(words) - 1))
    w = words[i]
    while w == words[i]:
        w = vocab[int(rng.integers(0, len(vocab)))]
    words[i] = w
    return " ".join(words)


# ---- workloads ----------------------------------------------------------

def gen_synth_tables(seed, s, out):
    rng = rng_for(seed, 1)
    write(out, "orders", orders(rng, s["orders"], 10000))
    vocab = vocabulary(rng, s["vocab"])
    write(out, "documents", doc_table(documents(rng, s["documents"], vocab)))


def gen_llm_corpus(seed, s, out):
    rng = rng_for(seed, 2)
    n = s["docs"]
    n_exact = int(n * s["exact_dup_share"])
    n_near = int(n * s["near_dup_share"])
    n_base = n - n_exact - n_near
    vocab = vocabulary(rng, s["vocab"])
    base = documents(rng, n_base, vocab)
    src_exact = rng.choice(n_base, n_exact)
    src_near = rng.choice(n_base, n_near, replace=False)
    texts = list(base["text"])
    texts += [base["text"][i] for i in src_exact]
    texts += [perturb(rng, base["text"][i], vocab) for i in src_near]
    # ids are shuffled so a copy may sort before its source
    ids = rng.permutation(n).astype(np.int64)
    pick = lambda a: np.concatenate([a, a[src_exact], a[src_near]])
    write(out, "documents", doc_table({
        "doc_id": ids, "text": texts,
        "lang": pick(base["lang"]), "source": pick(base["source"])}))
    kind = ["exact"] * n_exact + ["near"] * n_near
    write(out, "truth_dups", pa.table({
        "doc_id": pa.array(ids[n_base:]),
        "dup_of": pa.array(ids[np.concatenate([src_exact, src_near]).astype(int)]),
        "kind": pa.array(kind),
    }))


def gen_stream_events(seed, s, out):
    rng = rng_for(seed, 4)
    write(out, "events", events(rng, s["events"], s["users"]))


GENERATORS = {
    "synth_tables": gen_synth_tables,
    "llm_corpus": gen_llm_corpus,
    "stream_events": gen_stream_events,
}


def digest(out):
    h = hashlib.sha256()
    for name in sorted(os.listdir(out)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(out, name), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def generate(workload, seed, out, sizes=None):
    """Writes the inputs of `workload` for `seed` into `out` (reused
    when already complete) and returns their digest. `sizes` defaults
    to the workload's sizes in spec.json."""
    done = os.path.join(out, "DIGEST")
    if os.path.exists(done):
        with open(done) as f:
            return f.read().strip()
    if sizes is None:
        sizes = load_spec()["workloads"][workload]["sizes"]
    tmp = out + ".tmp"
    if os.path.isdir(tmp):
        for f in os.listdir(tmp):
            os.remove(os.path.join(tmp, f))
    os.makedirs(tmp, exist_ok=True)
    GENERATORS[workload](seed, sizes, tmp)
    d = digest(tmp)
    with open(os.path.join(tmp, "DIGEST"), "w") as f:
        f.write(d + "\n")
    os.replace(tmp, out)
    return d


if __name__ == "__main__":
    w, sd, o = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(generate(w, sd, o))
