#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files, another seed gives different ones. Nothing here
reads the repository's fixture directories; the tables are synthesized
with the schema and value distributions of the sf0.1 fixture set
(TPC-H-like star schema plus `events`, `documents` and `embeddings`).

    python3 perfbench/gen.py --workload <name> --seed <n> --out <dir>
    python3 perfbench/gen.py --verify --out <scratch dir>

`--verify` generates every workload twice with one seed and once with
another, and checks that the digests agree and differ respectively.

Inputs per workload:
  etl_captions  captions/part-N.txt     `id|||file|||caption` lines
  shard_loop    shards/shard_NNNN.parquet (doc_id, text, embedding);
                shard 0 bootstraps the stores
  query_mix     tables/<name>.parquet   the ten sf tables
Each output dir gets a manifest.json with rows, bytes and a digest per
input.
"""
import argparse
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes
# query_mix scale: fraction of sf1 row counts (sf0.1 = 600k lineitem)
TABLE_SF = 0.02
# etl_captions: captions per pipeline run, split over CAPTION_FILES files
# so the scan has one split per core, as a full-size input has (one small
# file is one split); max_samples is 10% of the captions
N_CAPTIONS = 100000
CAPTION_FILES = 4
# shard_loop: bootstrap corpus, shards available and docs per shard
BOOT_DOCS = 1500
N_SHARDS = 8
SHARD_DOCS = 300
NEAR_COPY_SHARE = 0.12
EMBED_DIM = 64

WORKLOADS = ("etl_captions", "shard_loop", "query_mix")

# ---------------------------------------------------------- vocabulary
# the fixture corpus's 30-word vocabulary (query_mix documents)
FIXTURE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch").split()
# function words: Gopher stop-word hits, POS-proxy CONJ/ADP/VERB classes
STOPWORDS = ("the of and to in is with for on as by at from that be have "
             "was are or but").split()
_SYL = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]


def zipf_vocab(n=4000):
    """Fixed synthetic vocabulary: 2-4 syllable lowercase words (part of
    the input format, not of the seed)."""
    r = np.random.default_rng(20240101)
    words, seen = [], set(STOPWORDS)
    while len(words) < n:
        w = "".join(_SYL[i] for i in r.integers(0, len(_SYL),
                                                 r.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


VOCAB = zipf_vocab()
_ZP = 1.0 / (np.arange(len(VOCAB)) + 2.7) ** 1.1
ZIPF_P = _ZP / _ZP.sum()


def zipf_tokens(rng, n):
    """n token ids: 30% stop words (negative ids), the rest Zipf draws."""
    toks = rng.choice(len(VOCAB), size=n, p=ZIPF_P)
    stop = rng.random(n) < 0.3
    toks[stop] = -1 - rng.integers(0, len(STOPWORDS), stop.sum())
    return toks


def render(toks, shift=0):
    """Token ids -> words; `shift` relabels content words (a vocabulary
    shifted replica keeps stop words and structure, changes content)."""
    v = len(VOCAB)
    return [STOPWORDS[-1 - t] if t < 0 else VOCAB[(t + shift) % v]
            for t in toks]


# -------------------------------------------------------------- writers
def write_parquet(table, path):
    pq.write_table(table, path, compression="snappy")


def file_digest(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def manifest(out, inputs):
    """inputs: {name: (relative path, rows)} -> manifest.json."""
    entries = {}
    for name, (rel, rows) in sorted(inputs.items()):
        p = os.path.join(out, rel)
        entries[name] = {"path": rel, "rows": int(rows),
                         "bytes": os.path.getsize(p),
                         "sha256": file_digest(p)}
    total = hashlib.sha256("".join(
        e["sha256"] for e in entries.values()).encode()).hexdigest()
    m = {"inputs": entries, "rows": sum(e["rows"] for e in entries.values()),
         "bytes": sum(e["bytes"] for e in entries.values()), "sha256": total}
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(m, f, indent=1, sort_keys=True)
    return m


# ------------------------------------------------------------ query_mix
def fixture_docs(rng, n):
    """`documents` in the fixture's shape: 10-100 words from the 30-word
    vocabulary; 5% are an earlier doc plus the marker word `dup`, a few
    are exact copies."""
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 20 and u < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 20 and u < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(FIXTURE_WORDS[j] for j in
                                  rng.integers(0, len(FIXTURE_WORDS), k)))
    return texts


def gen_tables(rng, out, sf=TABLE_SF):
    d = os.path.join(out, "tables")
    os.makedirs(d)
    ints = lambda n, hi: rng.integers(0, hi, n)
    money = lambda n, lo, hi: np.round(rng.uniform(lo, hi, n), 2)
    pick = lambda xs, n: np.array(xs, dtype=object)[ints(n, len(xs))]
    day0 = np.datetime64("1995-01-01", "us")
    days = lambda n, span: day0 + (ints(n, span) * 86400_000_000).astype(
        "timedelta64[us]")
    n_cust, n_supp, n_part = (int(150000 * sf), int(10000 * sf),
                              int(200000 * sf))
    n_ord, n_li, n_ev, n_doc, n_emb = (int(1500000 * sf), int(6000000 * sf),
                                       int(1000000 * sf), int(50000 * sf),
                                       int(20000 * sf))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                       "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)],
                                    pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": ints(n_cust, 25).astype(np.int32),
            "c_acctbal": money(n_cust, -999.99, 9999.99),
            "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"], n_cust)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": ints(n_supp, 25).astype(np.int32),
            "s_acctbal": money(n_supp, -999.99, 9999.99)}),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pick(["large", "hot", "blue", "old", "cold", "red",
                            "small", "new"], n_part) + " " +
                      pick(["ring", "bolt", "plate", "gear", "widget", "rod",
                            "anvil", "gizmo"], n_part),
            "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"], n_part),
            "p_size": (ints(n_part, 50) + 1).astype(np.int32),
            "p_retailprice": np.round(
                900 + (np.arange(n_part) % 1000) / 10.0, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": ints(n_ord, n_cust).astype(np.int64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": money(n_ord, 1000.0, 500000.0),
            "o_orderdate": days(n_ord, 2404),
            "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": ints(n_li, n_ord).astype(np.int64),
            "l_partkey": ints(n_li, n_part).astype(np.int64),
            "l_suppkey": ints(n_li, n_supp).astype(np.int64),
            "l_linenumber": (ints(n_li, 7) + 1).astype(np.int32),
            "l_quantity": (ints(n_li, 50) + 1).astype(np.float64),
            "l_extendedprice": money(n_li, 900.0, 105000.0),
            "l_discount": ints(n_li, 11) / 100.0,
            "l_tax": ints(n_li, 9) / 100.0,
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": days(n_li, 2499) + np.timedelta64(1, "D")}),
    }
    gaps = rng.integers(1, 2 * int(2592000 / n_ev * 1e6), n_ev)
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
            "timedelta64[us]"),
        "user_id": ints(n_ev, max(1, int(15000 * sf))).astype(np.int64),
        "event_type": pick(["click", "error", "purchase", "signup", "view"],
                           n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": np.array([f'{{"k": {k}}}' for k in ints(n_ev, 100)],
                          dtype=object)})
    texts = fixture_docs(rng, n_doc)
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh", "en"],
                     n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    centers = rng.normal(0, 1, (10, EMBED_DIM))
    labels = ints(n_emb, 10)
    vecs = centers[labels] + rng.normal(0, 1.2, (n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    inputs = {}
    for name, tb in tables.items():
        write_parquet(tb, os.path.join(d, f"{name}.parquet"))
        inputs[name] = (f"tables/{name}.parquet", tb.num_rows)
    return inputs


# --------------------------------------------------------- etl_captions
def captions(rng, bases, n):
    """n captions, each a 3-40 token window of a random base with varied
    casing and punctuation (capitalized and ALL-CAPS tokens feed the
    NE/PROPN proxies, numbers the NUM proxy, sentence marks the sentence
    splitter). The random draws are made in bulk: one draw per token from
    Python takes seconds per 100,000 captions."""
    ks = rng.integers(3, 41, n)
    pick = rng.integers(0, len(bases), n)
    room = np.maximum(1, np.array([len(bases[b]) for b in pick]) - ks + 1)
    starts = (rng.random(n) * room).astype(np.int64)
    total = int(ks.sum())
    u, v = rng.random(total).tolist(), rng.random(total).tolist()
    nums = rng.integers(1, 3000, total).tolist()
    stop = (rng.random(n) < 0.3).tolist()
    out, j = [], 0
    for c in range(n):
        words = []
        for w in bases[pick[c]][starts[c]:starts[c] + ks[c]]:
            x, y = u[j], v[j]
            if x < 0.12:
                w = w.capitalize()
            elif x < 0.14:
                w = w.upper()
            elif x < 0.17:
                w = str(nums[j])
            if y < 0.06:
                w += "."
            elif y < 0.09:
                w += ","
            elif y < 0.10:
                w += "!"
            words.append(w)
            j += 1
        s = " ".join(words)
        s = s[0].upper() + s[1:]
        out.append(s if s[-1] in ".!?" or stop[c] else s + ".")
    return out


def gen_captions(rng, out, n=N_CAPTIONS, files=CAPTION_FILES):
    d = os.path.join(out, "captions")
    os.makedirs(d)
    lens = rng.integers(40, 120, max(1, n // 8))
    words = render(zipf_tokens(rng, int(lens.sum())).tolist())
    ends = np.cumsum(lens).tolist()
    bases = [words[e - k:e] for e, k in zip(ends, lens.tolist())]
    caps = captions(rng, bases, n)
    inputs, per = {}, n // files
    for k in range(files):
        rel = f"captions/part-{k}.txt"
        with open(os.path.join(out, rel), "w", encoding="utf-8") as f:
            f.writelines(f"{i}|||File:{VOCAB[i % len(VOCAB)]}_{i}.jpg|||"
                         f"{caps[i]}\n" for i in range(k * per, (k + 1) * per))
        inputs[f"captions_{k}"] = (rel, per)
    return inputs


# ----------------------------------------------------------- shard_loop
def gen_shards(rng, out, boot=BOOT_DOCS, n_shards=N_SHARDS,
               size=SHARD_DOCS, near=NEAR_COPY_SHARE):
    """Shard 0 is the bootstrap corpus; shards 1.. are cut in seeded
    order from vocabulary-shifted replicas of a base corpus, and a seeded
    share of each shard are near-copies (one or two tokens replaced) of
    documents from earlier shards, so incremental dedup drops real
    rows."""
    d = os.path.join(out, "shards")
    os.makedirs(d)
    sizes = [boot] + [size] * n_shards
    n_base = 3000
    base = [zipf_tokens(rng, int(rng.integers(15, 121)))
            for _ in range(n_base)]
    stride = (len(VOCAB) // 7) * 2 + 1
    centers = rng.normal(0, 1, (16, EMBED_DIM))
    base_label = rng.integers(0, 16, n_base)
    order = rng.permutation(n_base * (sum(sizes) // n_base + 1))
    seen_text, seen_vec = [], []
    doc_id, cursor, inputs = 0, 0, {}
    for s, size in enumerate(sizes):
        ids, texts, vecs = [], [], []
        for _ in range(size):
            if s > 0 and rng.random() < near:
                j = int(rng.integers(0, len(seen_text)))
                words = seen_text[j].split(" ")
                for _ in range(int(rng.integers(1, 3))):
                    words[int(rng.integers(0, len(words)))] = VOCAB[
                        int(rng.integers(0, len(VOCAB)))]
                text = " ".join(words)
                vec = seen_vec[j] + rng.normal(0, 0.02, EMBED_DIM)
            else:
                src = int(order[cursor])
                cursor += 1
                b, replica = src % n_base, src // n_base
                text = " ".join(render(base[b], replica * stride))
                vec = centers[base_label[b]] + rng.normal(0, 1.0, EMBED_DIM)
            vec = vec / np.linalg.norm(vec)
            ids.append(doc_id)
            doc_id += 1
            texts.append(text)
            vecs.append(vec.astype(np.float32))
        seen_text.extend(texts)
        seen_vec.extend(vecs)
        tb = pa.table({
            "doc_id": np.array(ids, dtype=np.int64),
            "text": texts,
            "embedding": pa.array(vecs, pa.list_(pa.float32()))})
        rel = f"shards/shard_{s:04d}.parquet"
        write_parquet(tb, os.path.join(out, rel))
        inputs[f"shard_{s:04d}"] = (rel, size)
    return inputs


GENERATORS = {"etl_captions": gen_captions, "shard_loop": gen_shards,
              "query_mix": gen_tables}


def generate(workload, seed, out):
    """Build `workload`'s inputs under `out` (must not exist)."""
    if os.path.exists(out):
        raise SystemExit(f"gen: {out} already exists")
    os.makedirs(out)
    salt = WORKLOADS.index(workload)
    rng = np.random.default_rng([seed, salt])
    return manifest(out, GENERATORS[workload](rng, out))


def verify(scratch):
    """Same seed twice -> identical digests; another seed -> different."""
    ok = True
    for w in WORKLOADS:
        a = generate(w, 7, os.path.join(scratch, f"{w}_a"))["sha256"]
        b = generate(w, 7, os.path.join(scratch, f"{w}_b"))["sha256"]
        c = generate(w, 8, os.path.join(scratch, f"{w}_c"))["sha256"]
        good = a == b and a != c
        ok &= good
        print(f"{w}: same-seed {'equal' if a == b else 'DIFFERENT'}, "
              f"other seed {'differs' if a != c else 'EQUAL'} "
              f"-> {'ok' if good else 'FAIL'}")
        for x in "abc":
            shutil.rmtree(os.path.join(scratch, f"{w}_{x}"))
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--verify", action="store_true")
    a = ap.parse_args()
    if a.verify:
        os.makedirs(a.out, exist_ok=True)
        sys.exit(0 if verify(a.out) else 1)
    if not a.workload:
        ap.error("--workload is required without --verify")
    m = generate(a.workload, a.seed, a.out)
    print(json.dumps({"rows": m["rows"], "bytes": m["bytes"],
                      "sha256": m["sha256"]}))


if __name__ == "__main__":
    main()
