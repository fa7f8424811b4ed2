"""Seeded input generators. The same seed gives the same tables on any host;
the program sees only the parquet files written here.

  events      the statement stream (the `events` table schema)
  documents   the curation corpus (the `documents` table schema)
  embeddings  unit vectors around seeded cluster centres
"""
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

JAN_2024_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
MONTH_US = 31 * 86400 * 1_000_000
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])
# the 30-word vocabulary of the reference corpus
SMALL_VOCAB = ("spark window merge table column vector stream value data small join filter "
               "big group hash customer sort order slow line part fast row the agg key query "
               "a scan batch").split()


def rng(seed, *salt):
    return np.random.default_rng([seed, *salt])


def events(seed, first_id, n, users):
    """Events with ids [first_id, first_id + n), spread evenly over January
    2024 at odd microseconds, so no event sits on a whole-minute range
    bound. 1 % of rows carry props without the `k` field and 0.5 % have no
    user: both are malformed and must be dropped, never written."""
    r = rng(seed, first_id)
    i = np.arange(n, dtype=np.int64)
    step = MONTH_US // max(n, 1)
    ts = (JAN_2024_US + i * step + r.integers(0, step, n)) | 1
    user = r.integers(0, users, n)
    no_user = r.random(n) < 0.005
    etype = EVENT_TYPES[r.integers(0, len(EVENT_TYPES), n)]
    value = np.round(r.integers(0, 56022, n) / 100.0, 2)
    k = r.integers(0, 100, n)
    no_k = r.random(n) < 0.01
    props = [f'{{"j": {x}}}' if bad else f'{{"k": {x}}}' for x, bad in zip(k.tolist(), no_k.tolist())]
    return pa.table([
        pa.array(first_id + i), pa.array(ts, pa.timestamp("us", tz="UTC")),
        pa.array(user, mask=no_user), pa.array(etype), pa.array(value), pa.array(props)],
        schema=EVENTS_SCHEMA)


def write_parts(table, directory, parts):
    """Write `table` as `parts` parquet files, so Spark reads it in parallel."""
    os.makedirs(directory, exist_ok=True)
    rows = table.num_rows
    for p in range(parts):
        lo, hi = rows * p // parts, rows * (p + 1) // parts
        pq.write_table(table.slice(lo, hi - lo), os.path.join(directory, f"part-{p:05d}.parquet"))


def documents(seed, n, zipf_vocab=0):
    """Documents 0 .. n-1 shaped like the reference corpus: 8 to 96 words,
    source `src<id % 20>`, language 41 % en and the rest split over
    zh/es/fr/de, and 5 % near-duplicates (an earlier document's text plus
    the word `dup`). Words are uniform over the 30-word vocabulary, or with
    `zipf_vocab = V` Zipf(1)-ranked over `w0 .. w{V-1}` (rank r has
    probability ~1/r)."""
    r = rng(seed, 1)
    texts = []
    for d in range(n):
        if d > 0 and r.random() < 0.05:
            texts.append(texts[d - 1 - int(r.integers(0, min(d, 50)))] + " dup")
            continue
        m = int(r.integers(8, 97))
        if zipf_vocab:
            ranks = np.floor((zipf_vocab + 1.0) ** r.random(m)).astype(np.int64) - 1
            texts.append(" ".join(f"w{x}" for x in ranks.tolist()))
        else:
            texts.append(" ".join(SMALL_VOCAB[x] for x in r.integers(0, len(SMALL_VOCAB), m).tolist()))
    u = r.random(n)
    lang = np.select([u < 0.41, u < 0.56, u < 0.71, u < 0.86], ["en", "zh", "es", "fr"], "de")
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids), "text": pa.array(texts), "lang": pa.array(lang),
        "source": pa.array([f"src{d % 20}" for d in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def heaps_scaled(docs, replicas, seed):
    """`replicas`x documents in the Heaps-law vocabulary mode of
    `graft.tools.ScaleUp`: replica 0 is the base corpus; replica r > 0
    shifts ids by r * 10^9 and rewrites a third of its words into one of
    ceil(3 * sqrt(replicas)) pooled variants, so vocabulary grows as
    sqrt(corpus) while near-duplicate structure inside a replica is kept."""
    pool = max(1, math.ceil(3.0 * math.sqrt(replicas)))
    out = []
    for rep in range(replicas):
        r = rng(seed, 2, rep)
        texts = docs.column("text").to_pylist()
        if rep:
            mutated = []
            for t in texts:
                words = t.split(" ")
                hit = r.random(len(words)) < 1 / 3
                form = r.integers(0, pool, len(words))
                mutated.append(" ".join(f"{w}h{f}" if h else w
                                        for w, h, f in zip(words, hit.tolist(), form.tolist())))
            texts = mutated
        out.append(pa.table({
            "doc_id": pa.array(docs.column("doc_id").to_numpy() + rep * 1_000_000_000),
            "text": pa.array(texts), "lang": docs.column("lang"), "source": docs.column("source"),
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}))
    return pa.concat_tables(out)


def embeddings(seed, n, dims=64, clusters=10):
    """`n` float32 unit vectors around `clusters` seeded centres; `label`
    is the cluster."""
    r = rng(seed, 3)
    centres = r.uniform(-1.0, 1.0, (clusters, dims))
    label = r.integers(0, clusters, n)
    v = centres[label] + r.normal(0.0, 0.5, (n, dims))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def main(jobs):
    """Run generation jobs, each a dict with `kind`, `out` and the
    generator's arguments (see `Gen` in the harness)."""
    for j in jobs:
        if j["kind"] == "events":
            t = events(j["seed"], j["first_id"], j["n"], j["users"])
            if "drop_rows" in j:  # one file per drop, moved into a source later
                os.makedirs(j["out"], exist_ok=True)
                for d in range(j["n"] // j["drop_rows"]):
                    pq.write_table(t.slice(d * j["drop_rows"], j["drop_rows"]),
                                   os.path.join(j["out"], f"drop_{d:05d}.parquet"))
            else:
                write_parts(t, j["out"], j["parts"])
        elif j["kind"] == "documents":
            t = documents(j["seed"], j["n"], j.get("zipf_vocab", 0))
            if j.get("replicas", 1) > 1:
                t = heaps_scaled(t, j["replicas"], j["seed"])
            write_parts(t, j["out"], j["parts"])
        elif j["kind"] == "embeddings":
            write_parts(embeddings(j["seed"], j["n"]), j["out"], j["parts"])
        else:
            raise SystemExit(f"gen: unknown kind {j['kind']}")


if __name__ == "__main__":
    import json
    import sys
    main(json.loads(sys.argv[1]))
