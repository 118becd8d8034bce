"""Seeded input generators.

`write_tables` writes the ten parquet tables the batch queries read (the
star schema plus `events`, `documents` and `embeddings`), in the physical
shape of the engine's testdata: one file and one row group per table,
timestamps as TIMESTAMP(MICROS) without a zone. Column distributions follow
that testdata at scale factor `sf` (uniform keys, word-salad documents over
a 30-word vocabulary with about 5% " dup" reposts, random unit embeddings).

`stream_posts` produces the stream workload's post files: JSON lines in the
reference producer's post schema, with texts drawn from `documents`, a fixed
share reposted near-verbatim and a fixed share stamped late. Everything is a
pure function of its seed, so the same seed gives byte-identical files.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the spark line small fast group customer batch "
         "sort value hash filter big data part column order scan a slow agg "
         "key window table merge vector join").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _days(rng, lo, hi, n):
    return _EPOCH_1995 + rng.integers(lo, hi + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents_texts(seed, n):
    """(texts, langs, sources) of the `documents` table: 10-99 vocabulary
    words each; about 5% repeat an earlier document's text plus " dup"."""
    rng = np.random.default_rng([seed, 7])
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)]
    sources = [f"src{i % 20}" for i in range(n)]
    return texts, langs, sources


def tables(seed=42, sf=0.1):
    """name -> pyarrow.Table for every input table at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, 0, 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days(rng, 1, 2499, n_line), pa.timestamp("us"))})
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)]})
    texts, langs, sources = documents_texts(seed, n_doc)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def write_tables(out_dir, seed=42, sf=0.1):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))


PLATFORMS = ["twitter", "facebook", "instagram", "reddit"]
CITIES = [("New York", "USA"), ("London", "UK"), ("Paris", "France"),
          ("Tokyo", "Japan"), ("Sydney", "Australia")]
# Words VADER scores, so the enrichment sees positive, negative and neutral posts.
MOOD = ["love", "great", "amazing", "happy", "terrible", "awful", "sad",
        "angry", "good", "bad", "okay", "fine"]
TAGS = ["#spark", "#data", "#stream", "#happy", "#fail", "#news"]
STREAM_START = dt.datetime(2024, 1, 1, 12, 0, 0)


def stream_posts(seed, n_files, posts_per_file, texts, repost_share=0.05,
                 late_share=0.02, event_step_ms=100):
    """List of (file_index, [post dict]) for `n_files` files.

    Post `user` is `f<file>_<i>`, unique per post, so every post can be
    traced through the sink. Event time advances `event_step_ms` per post;
    a late post is stamped 10 minutes behind, past every watermark the
    stream queries use. A repost copies an earlier post's text with one
    word changed."""
    rng = np.random.default_rng([seed, 11])
    files, sent = [], []
    seq = 0
    for f in range(n_files):
        posts = []
        for i in range(posts_per_file):
            if sent and rng.random() < repost_share:
                words = sent[int(rng.integers(0, len(sent)))].split(" ")
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                text = " ".join(words)
            else:
                base = texts[int(rng.integers(0, len(texts)))].split(" ")[:30]
                extra = [MOOD[int(rng.integers(0, len(MOOD)))],
                         TAGS[int(rng.integers(0, len(TAGS)))]]
                text = " ".join(base + extra)
            sent.append(text)
            event = STREAM_START + dt.timedelta(milliseconds=seq * event_step_ms)
            if rng.random() < late_share:
                event -= dt.timedelta(minutes=10)
            city, country = CITIES[int(rng.integers(0, len(CITIES)))]
            posts.append({
                "text": text, "user": f"f{f}_{i}",
                "platform": PLATFORMS[int(rng.integers(0, len(PLATFORMS)))],
                "user_followers": int(rng.integers(0, 5000)),
                "likes": int(rng.integers(0, 100)),
                "retweets": int(rng.integers(0, 20)),
                "location": {"city": city, "country": country},
                "timestamp": event.strftime("%Y-%m-%d %H:%M:%S")})
            seq += 1
        files.append((f, posts))
    return files


def _write_posts(path, posts):
    with open(path, "w") as fh:
        for p in posts:
            fh.write(json.dumps(p, sort_keys=True) + "\n")


def write_stream_posts(out_dir, seed, n_files, posts_per_file, texts):
    """Stages post files as `<out_dir>/posts-<file:06d>.json`."""
    os.makedirs(out_dir, exist_ok=True)
    for f, posts in stream_posts(seed, n_files, posts_per_file, texts):
        _write_posts(os.path.join(out_dir, f"posts-{f:06d}.json"), posts)
