"""Seeded input generator for the perfbench workloads.

Every input a workload feeds the program is made here, from numpy's PCG64
generator: the same seed gives byte-identical files, another seed other
files. The JVM harness only ever receives the files written here.

- tables(): the ten synthetic tables the query battery reads (TPC-H-like
  star schema plus events, documents and embeddings), in the column layout
  and value ranges of the repo's sf test data. query_mix reads one fixed
  table set (seed TABLE_SEED) so that each query's output can be pinned.
- queue(): ingest_stream's queue, one post-schema JSON-array payload per
  file; about a tenth of the payloads are replayed at later positions.
- corpus(): nlp_batch's posts and comments.
- sample(), order(): query_mix's stratified query sample and its run order.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line data table agg value key stream window a spark "
         "part group big sort query fast the").split()
# Sentiment-bearing words mixed into the NLP corpus so that VADER scores
# spread over all three labels instead of sitting at 0.
POSITIVE = "great love good excellent happy amazing nice best wonderful enjoy".split()
NEGATIVE = "terrible awful bad hate worst sad horrible poor angry boring".split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400_000_000


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _ts_us(date):
    return int(np.datetime64(date, "us").astype(np.int64))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    d0, d1 = _ts_us(start) // DAY_US, _ts_us(end) // DAY_US
    return (rng.integers(d0, d1 + 1, n) * DAY_US).astype("datetime64[us]")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def documents(seed, n, stream=7):
    """doc_id, text, lang, source, n_chars: word-salad texts of 10-99 words
    over a 30-word vocabulary; about 5% are an earlier text plus " dup"."""
    rng = _rng(seed, stream)
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    dup = rng.random(n) < 0.05
    src = rng.integers(0, max(1, n), n)
    for i in np.flatnonzero(dup):
        if i > 0:
            texts[i] = texts[src[i] % i] + " dup"
    lang = rng.choice(LANGS, n, p=LANG_P)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tables(out_dir, sf, seed=TABLE_SEED):
    """Write the ten battery tables at scale factor sf into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    n = {k: max(1, int(round(v * sf))) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000, documents=50_000,
        embeddings=20_000, users=15_000).items()}
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(regions, s)}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
           f"{out_dir}/nation.parquet")

    r = _rng(seed, 1)
    nc = n["customer"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array(r.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, nc), f64),
        "c_mktsegment": pa.array(r.choice(segments, nc).tolist(), s)}),
        f"{out_dir}/customer.parquet")

    r = _rng(seed, 2)
    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": pa.array(r.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, ns), f64)}),
        f"{out_dir}/supplier.parquet")

    r = _rng(seed, 3)
    npart = n["part"]
    adj = "large hot red small old blue green cold".split()
    noun = "ring bolt plate widget rod gizmo gear nut".split()
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array([f"{adj[a]} {noun[b]}" for a, b in zip(
            r.integers(0, 8, npart), r.integers(0, 8, npart))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, npart)], s),
        "p_type": pa.array(r.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL",
                                     "MEDIUM", "PROMO"], npart).tolist(), s),
        "p_size": pa.array(r.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npart) % 1000) * 0.1, 2), f64)}),
        f"{out_dir}/part.parquet")

    r = _rng(seed, 4)
    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(r.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], no).tolist(), s),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, no), f64),
        "o_orderdate": pa.array(_days(r, "1995-01-01", "2001-08-01", no), pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                              "4-NOT SPECIFIED", "5-LOW"], no).tolist(), s)}),
        f"{out_dir}/orders.parquet")

    r = _rng(seed, 5)
    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, no, nl), i64),
        "l_partkey": pa.array(r.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(r.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(r.integers(1, 8, nl), i32),
        "l_quantity": pa.array(r.integers(1, 51, nl).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, nl), f64),
        "l_discount": pa.array(r.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(r.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], nl).tolist(), s),
        "l_linestatus": pa.array(r.choice(["O", "F"], nl).tolist(), s),
        "l_shipdate": pa.array(_days(r, "1995-01-02", "2001-11-04", nl), pa.timestamp("us"))}),
        f"{out_dir}/lineitem.parquet")

    r = _rng(seed, 6)
    ne = n["events"]
    t0 = _ts_us("2024-01-01")
    ts = np.sort(r.integers(t0, t0 + 30 * DAY_US, ne)).astype("datetime64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n["users"], ne), i64),
        "event_type": pa.array(r.choice(["click", "signup", "error", "view",
                                         "purchase"], ne).tolist(), s),
        "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, ne), 2)), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, ne)], s)}),
        f"{out_dir}/events.parquet")

    d = documents(seed, n["documents"])
    _write(pa.table({"doc_id": pa.array(d["doc_id"], i64), "text": pa.array(d["text"], s),
                     "lang": pa.array(d["lang"], s), "source": pa.array(d["source"], s),
                     "n_chars": pa.array(d["n_chars"], i64)}),
           f"{out_dir}/documents.parquet")

    r = _rng(seed, 8)
    nv = n["embeddings"]
    centers = r.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = r.integers(0, 10, nv)
    noise = r.normal(scale=1 / 8, size=(nv, 64))
    v = 0.14 * centers[label] + noise
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({"vec_id": pa.array(np.arange(nv), i64),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array(label, i32)}),
           f"{out_dir}/embeddings.parquet")


def _post(doc_id, text, lang, source, t_s):
    return {"author": "harvester",
            "created_utc": np.datetime_as_string(
                np.datetime64(int(t_s), "s"), unit="s") + "Z",
            "id": f"d{doc_id}", "num_comments": 1, "score": int(doc_id % 100),
            "selftext": text, "subreddit": source,
            "title": f"coffee notes {lang}", "url": "url"}


def queue(out_dir, seed, n_payloads, docs_per_payload, replay_frac=0.1):
    """Write ingest_stream's queue: n_payloads distinct JSON-array payloads of
    docs_per_payload posts each, plus about replay_frac of them replayed at
    seeded later positions (the harvester's at-least-once re-emit). Files
    are named and time-stamped in queue order. Returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    n_docs = n_payloads * docs_per_payload
    d = documents(seed, n_docs)
    rng = _rng(seed, 11)
    # One day of event time: far inside the dedup's 7-day watermark horizon,
    # so state is never evicted and every replay must be dropped.
    t0 = _ts_us("2024-01-01T10:00:00") // 1_000_000
    times = t0 + rng.integers(0, 86_400, n_docs)
    payloads = []
    for p in range(n_payloads):
        lo = p * docs_per_payload
        payloads.append("[" + ",".join(json.dumps(_post(
            int(d["doc_id"][i]), d["text"][i], d["lang"][i], d["source"][i],
            times[i]), separators=(",", ":")) for i in range(lo, lo + docs_per_payload)) + "]")
    order = list(range(n_payloads))
    replayed = sorted(rng.choice(n_payloads, int(round(n_payloads * replay_frac)),
                                 replace=False).tolist())
    for p in replayed:
        at = order.index(p)
        order.insert(int(rng.integers(at + 1, len(order) + 1)), p)
    mtime0 = 1_700_000_000
    for k, p in enumerate(order):
        path = f"{out_dir}/q{k:05d}.json"
        with open(path, "w", encoding="utf-8") as f:
            f.write(payloads[p] + "\n")
        os.utime(path, (mtime0 + k, mtime0 + k))
    return {"files": len(order), "docs": n_docs,
            "replayed_docs": len(replayed) * docs_per_payload}


def corpus(out_dir, seed, n_posts, comments_per_post):
    """Write nlp_batch's posts.parquet and comments.parquet (the §1.2
    shapes). About 90% of posts and comments carry the "coffee" keyword the
    analysis filters on; the rest carry no "coffee" substring at all.
    Returns the manifest with the expected analysis row count."""
    os.makedirs(out_dir, exist_ok=True)
    n_comments = n_posts * comments_per_post
    d = documents(seed, n_posts + n_comments, stream=21)
    rng = _rng(seed, 22)
    sent = rng.integers(0, 3, len(d["text"]))
    senti_words = rng.integers(0, 10, (len(d["text"]), 3))
    coffee = rng.random(len(d["text"])) < 0.9
    texts = []
    for i, t in enumerate(d["text"]):
        extra = [POSITIVE, NEGATIVE, VOCAB][sent[i]]
        words = " ".join(extra[j % len(extra)] for j in senti_words[i])
        texts.append(f"{t} {words}" + (" coffee" if coffee[i] else ""))
    t0 = _ts_us("2024-01-01T00:00:00") // 1_000_000
    times = (t0 + rng.integers(0, 30 * 86_400, len(texts))) * 1_000_000
    ts = pa.timestamp("us", tz="UTC")
    s, i32 = pa.string(), pa.int32()
    post_ids = [f"p{i}" for i in range(n_posts)]
    _write(pa.table({
        "author": pa.array(["harvester"] * n_posts, s),
        "created_utc": pa.array(times[:n_posts], ts),
        "id": pa.array(post_ids, s),
        "num_comments": pa.array([comments_per_post] * n_posts, i32),
        "score": pa.array(rng.integers(-20, 500, n_posts), i32),
        "selftext": pa.array(texts[:n_posts], s),
        "subreddit": pa.array([d["source"][i] for i in range(n_posts)], s),
        "title": pa.array([f"notes {d['lang'][i]}" for i in range(n_posts)], s),
        "url": pa.array(["url"] * n_posts, s)}), f"{out_dir}/posts.parquet")
    parent = rng.integers(0, n_posts, n_comments)
    _write(pa.table({
        "created_utc": pa.array(times[n_posts:], ts),
        "p_id": pa.array([post_ids[p] for p in parent], s),
        "c_id": pa.array([f"c{i}" for i in range(n_comments)], s),
        "body": pa.array(texts[n_posts:], s),
        "subreddit": pa.array([d["source"][n_posts + i] for i in range(n_comments)], s),
        "title": pa.array([f"notes {d['lang'][p]}" for p in parent], s),
        "score": pa.array(rng.integers(-20, 200, n_comments), i32)}),
        f"{out_dir}/comments.parquet")
    return {"posts": n_posts, "comments": n_comments,
            "expected_rows": int(coffee.sum())}


def sample(pool, picks, seed=TABLE_SEED):
    """Stratified sample of about `picks` queries from the faster half of the
    pool, where per-query fixed cost dominates. pool maps query name ->
    {"module", "ref_ms"}. Each module gets picks in proportion to its
    queries in the faster half, at least one (its cheapest query, if it has
    none there); its queries, sorted by reference time, are cut into that
    many equal runs and one query is drawn from each run. The sample is
    fixed by `seed`, so that runs with different workload seeds measure the
    same work."""
    rng = _rng(seed, 31)
    cut = float(np.median([q["ref_ms"] for q in pool.values()]))
    fast = {n for n, q in pool.items() if q["ref_ms"] <= cut}
    picked = []
    for module in sorted({q["module"] for q in pool.values()}):
        names = sorted((n for n, q in pool.items() if q["module"] == module),
                       key=lambda n: (pool[n]["ref_ms"], n))
        names = [n for n in names if n in fast] or names[:1]
        k = max(1, round(picks * len(names) / len(fast)))
        for i in range(k):
            run = names[i * len(names) // k:(i + 1) * len(names) // k]
            picked.append(run[int(rng.integers(0, len(run)))])
    return sorted(picked)


def order(names, seed):
    """query_mix's run order: a permutation drawn from the workload seed."""
    rng = _rng(seed, 32)
    return [names[i] for i in rng.permutation(len(names))]
