"""Seeded input generator of the benchmark.

Every input the program sees comes from here, and the same seed gives
the same files. The base tables have the shape of the project's sf0.1
test data (an `events` observation stream, a `customer` registry, a
`documents` corpus and an `embeddings` table); the scale factor sets
their row counts. Derived inputs follow the replication rules that
`graft.tools.ScaleGen` documents, re-implemented here so the benchmark
does not depend on the program to build its own inputs:

  * corpus shard k appends a shard suffix to every content word and
    circularly shifts every embedding by k positions.

Usage (the harness calls it; every command writes under --out):

  gen.py serve  --seed S --scale SF --rounds N --out DIR
  gen.py corpus --seed S --scale SF --shards FIRST[-LAST] --out DIR
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000
CODES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])


def sizes(scale):
    """Row counts of the base tables at a scale factor (sf0.1 = the
    project's benchmark size: 100k events over 1500 patients)."""
    return {
        "events": max(1000, int(round(1_000_000 * scale))),
        "users": max(15, int(round(15_000 * scale))),
        "customers": max(150, int(round(150_000 * scale))),
        "docs": max(500, int(round(50_000 * scale))),
        "vectors": max(500, int(round(20_000 * scale))),
    }


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def events_table(event_id, ts_us, user_id, code_idx, value, k):
    return pa.Table.from_arrays([
        pa.array(event_id, pa.int64()),
        pa.array(ts_us, pa.int64()).cast(pa.timestamp("us")),
        pa.array(user_id, pa.int64()),
        pa.array(CODES[code_idx]),
        pa.array(value, pa.float64()),
        pa.array(['{"k": %d}' % x for x in k]),
    ], schema=EVENTS_SCHEMA)


def base_events(rng, n, users):
    """Observations over January 2024, ordered by time: uniform
    patients and codes, exponential values with two decimals."""
    ts = np.sort(rng.integers(EPOCH_US, EPOCH_US + 30 * DAY_US, n))
    return dict(
        event_id=np.arange(n, dtype=np.int64), ts=ts,
        user_id=rng.integers(0, users, n),
        code=rng.integers(0, len(CODES), n),
        value=np.round(rng.exponential(50.0, n), 2),
        k=rng.integers(0, 100, n))


def zipf_patients(rng, users, n, s=1.1):
    """n patient ids drawn from a Zipf law over a seeded permutation of
    the patients, so the hot patients differ from seed to seed."""
    ranks = np.arange(1, users + 1, dtype=np.float64)
    p = ranks ** -s
    p /= p.sum()
    perm = rng.permutation(users)
    return perm[rng.choice(users, size=n, p=p)]


# One api_serve round: a batch lands, one fresh read of it, then one
# read of each kind in this order (equal shares).
ROUND_READS = ["obsByPatient", "getPatient", "latestObservation", "patientBundle",
               "obsStats"]
BATCH_ROWS = 16


def fmt_ts(us):
    s, frac = divmod(int(us), 1_000_000)
    t = np.datetime64(s, "s").astype(object)
    return t.strftime("%Y-%m-%d %H:%M:%S") if frac == 0 else \
        t.strftime("%Y-%m-%d %H:%M:%S") + ".%06d" % frac


def gen_serve(a):
    """Base events + customer registry, `rounds` staged landing batches
    (each BATCH_ROWS new observations of one (patient, code), in its
    own hour of February) and the read schedule, one line per read:
    round, kind, patient, code, from, to, limit."""
    sz = sizes(a.scale)
    rng = np.random.default_rng(a.seed)
    ev = base_events(rng, sz["events"], sz["users"])
    write(events_table(ev["event_id"], ev["ts"], ev["user_id"], ev["code"],
                       ev["value"], ev["k"]),
          os.path.join(a.out, "events.parquet", "part-base.parquet"))
    nc = sz["customers"]
    write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array(["Customer#%09d" % i for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, nc)]),
    }), os.path.join(a.out, "customer.parquet"))

    feb = EPOCH_US + 31 * DAY_US
    hour = 3_600_000_000
    next_id = sz["events"]
    land_pat = zipf_patients(rng, sz["users"], a.rounds)
    read_pat = zipf_patients(rng, sz["users"], a.rounds * len(ROUND_READS))
    lines = []
    for r in range(a.rounds):
        t0 = feb + r * hour
        code = int(rng.integers(0, len(CODES)))
        ids = np.arange(next_id, next_id + BATCH_ROWS, dtype=np.int64)
        next_id += BATCH_ROWS
        write(events_table(ids, np.sort(rng.integers(t0, t0 + hour, BATCH_ROWS)),
                           np.full(BATCH_ROWS, land_pat[r]),
                           np.full(BATCH_ROWS, code),
                           np.round(rng.exponential(50.0, BATCH_ROWS), 2),
                           rng.integers(0, 100, BATCH_ROWS)),
              os.path.join(a.out, "landing", "batch-%05d.parquet" % r))
        lines.append((r, "fresh", land_pat[r], CODES[code], fmt_ts(t0),
                      fmt_ts(t0 + hour), 100))
        for j, kind in enumerate(ROUND_READS):
            p = read_pat[r * len(ROUND_READS) + j]
            c = CODES[rng.integers(0, len(CODES))]
            day = int(rng.integers(0, 29))
            lo = EPOCH_US + day * DAY_US
            hi = lo + int(rng.integers(1, 31 - day)) * DAY_US
            lines.append((r, kind, p, c, fmt_ts(lo), fmt_ts(hi), int(rng.integers(5, 51))))
    with open(os.path.join(a.out, "schedule.tsv"), "w") as f:
        for ln in lines:
            f.write("\t".join(str(x) for x in ln) + "\n")


# A small synthetic language: content words with a Zipf-like frequency,
# plus the stopwords and language markers the text operators look for.
STOP = ["the", "a", "and", "of", "is", "to", "in", "for"]
MARKERS = {"en": ["the", "a", "and", "of", "is"],
           "de": ["der", "die", "das", "und", "ist"],
           "es": ["el", "los", "las", "que", "por"],
           "fr": ["le", "les", "des", "et", "est"],
           "zh": ["的", "了", "是"]}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SYL = ["ka", "lo", "mi", "re", "tu", "sa", "ne", "pi", "do", "ra", "ve", "zo",
       "chi", "ban", "tor", "mel", "gus", "fin", "dar", "pel"]


def content_vocab(rng, n):
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 4))
        words.add("".join(SYL[i] for i in rng.integers(0, len(SYL), k)))
    words = sorted(words)
    rng.shuffle(words)
    return words


def base_corpus(seed, n_docs, n_vecs):
    """Documents as word lists (so shards can rename content words)
    and embeddings, from the seed alone. Besides ordinary documents the
    corpus holds the cases curation exists for: near-duplicates (an
    earlier document plus a word), exact and case/punctuation-variant
    copies, too-short and repetitive documents."""
    rng = np.random.default_rng(seed)
    vocab = content_vocab(rng, 4000)
    wp = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    wp /= wp.sum()
    # every random draw up front, vectorised; documents consume them
    pool = iter(rng.choice(len(vocab), size=n_docs * 100, p=wp).tolist())
    lang_of = rng.choice(len(LANGS), size=n_docs, p=LANG_P)
    kind = rng.random(n_docs)
    pick = (rng.random(n_docs) * np.arange(n_docs)).astype(int).tolist()
    length = rng.integers(10, 100, n_docs).tolist()
    marks = rng.random((n_docs, 100))
    docs, langs = [], []
    for i in range(n_docs):
        lang = LANGS[lang_of[i]]
        u = kind[i]
        if i > 10 and u < 0.05:
            words = docs[pick[i]] + [vocab[next(pool)]]
        elif i > 10 and u < 0.07:
            words = list(docs[pick[i]])
        elif i > 10 and u < 0.08:
            words = [w.upper() + "," if j % 5 == 0 else w for j, w in enumerate(docs[pick[i]])]
        elif u < 0.10:
            words = [vocab[next(pool)] for _ in range(3 + length[i] % 6)]
        elif u < 0.12:
            w = [vocab[next(pool)] for _ in range(3)]
            words = [w[int(x * 3)] for x in marks[i, :20 + length[i] % 40]]
        else:
            # content words, one in six replaced by a stopword or a
            # marker of the document's language
            mk = MARKERS[lang] + STOP
            words = [mk[int(m * 6 * len(mk)) % len(mk)] if m < 1 / 6 else vocab[next(pool)]
                     for m in marks[i, :length[i]]]
        docs.append(words)
        langs.append(lang)
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return docs, langs, vecs.astype(np.float32), labels


def shard_suffix(k):
    """'' for shard 0, then a, b, ..., z, ba, bb, ... (base 26)."""
    s = ""
    while k > 0:
        k, r = divmod(k, 26)
        s = chr(97 + r) + s
    return s


def gen_corpus(a):
    """Corpus shards FIRST..LAST: the seed's base corpus with every
    content word suffixed by the shard's suffix and every embedding
    rotated by the shard number."""
    sz = sizes(a.scale)
    docs, langs, vecs, labels = base_corpus(a.seed, sz["docs"], sz["vectors"])
    keep = set(STOP) | {w for ws in MARKERS.values() for w in ws}
    first, _, last = a.shards.partition("-")
    for k in range(int(first), int(last or first) + 1):
        suf = shard_suffix(k)
        texts = [" ".join(w if w in keep or not suf else w + suf for w in ws) for ws in docs]
        out = os.path.join(a.out, "shard-%03d" % k)
        write(pa.table({
            "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(["src%d" % (i % 20) for i in range(len(texts))]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }), os.path.join(out, "documents.parquet"))
        rolled = np.roll(vecs, k % vecs.shape[1], axis=1)
        write(pa.table({
            "vec_id": pa.array(np.arange(len(rolled)), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, rolled.size + 1, rolled.shape[1], dtype=np.int32)),
                pa.array(rolled.ravel(), pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }), os.path.join(out, "embeddings.parquet"))


def main(argv):
    p = argparse.ArgumentParser()
    p.add_argument("what", choices=["serve", "corpus"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--scale", type=float, default=0.1)
    p.add_argument("--rounds", type=int, default=1)
    p.add_argument("--shards", default="0", help="corpus shards FIRST[-LAST]")
    p.add_argument("--out", required=True)
    a = p.parse_args(argv)
    {"serve": gen_serve, "corpus": gen_corpus}[a.what](a)


if __name__ == "__main__":
    main(sys.argv[1:])
