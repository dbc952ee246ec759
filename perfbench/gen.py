"""Seeded input generators for the perfbench workloads.

Every generator takes a seed and writes its input files plus a
`truth.json` beside them. The same seed gives byte-identical files: all
randomness comes from `random.Random` instances derived from the seed, and
parquet is written by pyarrow without timestamps.

Run one directly to look at an input:
    python3 perfbench/gen.py tweets-kmedoids 7 /tmp/out
"""
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes per workload; recorded in BENCHMARK.json's `why` lines and in
# perfbench/README.md. The program's per-job driver cost dominates at these
# sizes (a warm pass takes 4-7 s at local[4]); they are as large as the
# benchmark's time budget (22 runs of every workload in under an hour) allows.
SIZES = {
    "tweets-kmedoids": {"rows": 6000},
    "corpus-dedup": {"docs": 8000, "slice_docs": 1000},
    "index-ingest": {"base_docs": 4000, "batches": 2, "batch_docs": 400,
                     "compact_every": 2},
}

# ---------------------------------------------------------------------------
# tweets-kmedoids: positional tweet CSV (FIXTURES.md section 1)

# The planted clusters: (time bucket, hashtag count, language, hasVideo).
CENTERS = [(1, 2, "en", 0), (2, 10, "tr", 1), (3, 18, "es", 0), (0, 26, "ja", 1)]
CENTER_SHARE = [0.4, 0.3, 0.2, 0.1]
TAG_OFFSETS = [-3, -2, -1, 0, 1, 2, 3]
TAG_WEIGHTS = [1, 2, 4, 10, 4, 2, 1]
LANGS = ["en", "tr", "es", "ja", "fr"]
HOURS = {1: list(range(5, 13)), 2: list(range(13, 19)), 3: [21, 22, 23, 0, 1],
         0: [2, 3, 4, 19, 20]}
# KMeans.deterministicSeeds orders ids by this key; see seed_key.
SEED_P = 1000000007
SEED_MULT = 2654435761 % SEED_P
HASHTAG_WEIGHT = 0.8


def seed_key(i):
    return ((i % SEED_P) * SEED_MULT) % SEED_P


def distance(a, b):
    """Distances.weightedDistance over (time, tags, language, video)."""
    dt = a[0] - b[0]
    dh = (a[1] - b[1]) * HASHTAG_WEIGHT
    dl = 0.0 if a[2] == b[2] else 1.0
    dv = a[3] - b[3]
    return (dt * dt + dh * dh + dl * dl + dv * dv) ** 0.5


def _time_field(rng, bucket):
    r = rng.random()
    if bucket == 0 and r < 0.15:
        # malformed times fall to bucket 0: two parts, or a non-numeric hour
        return rng.choice(["7:30", "ab:10:00", "12:00:00:00"])
    return "%02d:%02d:%02d" % (rng.choice(HOURS[bucket]), rng.randrange(60),
                               rng.randrange(60))


def _tags_field(rng, n):
    """Returns (field, parsed count): digits, `[]`, or a list whose elements
    are joined by comma+space so the list stays one positional field."""
    r = rng.random()
    if n == 0:
        return rng.choice(["[]", "0"]), 0
    if r < 0.5:
        return str(n), n
    return "[" + ", ".join("'#t%d'" % rng.randrange(1000) for _ in range(n)) + "]", n


def _video_field(rng, v):
    r = rng.random()
    if v == 1:
        return ("True", 1) if r < 0.5 else ("1", 1)
    return rng.choice([("False", 0), ("0", 0), ("no", 0)])


def _count_field(rng):
    r = rng.random()
    if r < 0.08:
        return rng.choice(["1.2k", "n/a", ""]), 0
    if r < 0.12:
        v = rng.randrange(1, 50)
        return ("+%d" % v, v) if r < 0.10 else ("-%d" % v, -v)
    v = rng.randrange(0, 500)
    return str(v), v


def _filler(rng):
    return "hello, world" if rng.random() < 0.05 else "f%d" % rng.randrange(1000)


def gen_tweets(seed, out, rows):
    rng = random.Random("tweets-%d" % seed)
    ids = set()
    while len(ids) < rows:
        ids.add(1300000000000000000 + rng.randrange(10 ** 17))
    ids = sorted(ids)
    rng.shuffle(ids)
    labels = rng.choices(range(len(CENTERS)), CENTER_SHARE, k=rows)
    feats = []
    for c in labels:
        t, tags, lang, video = CENTERS[c]
        tags = max(0, tags + rng.choices(TAG_OFFSETS, TAG_WEIGHTS)[0])
        if rng.random() < 0.05:
            t = rng.randrange(4)
        if rng.random() < 0.05:
            lang = rng.choice(LANGS)
        if rng.random() < 0.05:
            video = 1 - video
        feats.append((t, tags, lang, video))
    # Plant the k-medoids seeds: the five ids KMeans.deterministicSeeds takes
    # first sit at the edges of distinct clusters (the fifth in cluster 0), so
    # every k in 2..5 starts from the same seeding shape on every input
    # seed and the objective does not hinge on seeding luck.
    first = sorted(range(rows), key=lambda r: (seed_key(ids[r]), ids[r]))[:5]
    for j, r in enumerate(first):
        c = j if j < 4 else 0
        t, tags, lang, video = CENTERS[c]
        labels[r] = c
        feats[r] = (t, tags + (3 if j < 4 else 2), lang, video)

    truth = {"valid_rows": rows, "rejects": {"empty": 0, "short": 0, "bad_id": 0},
             "sum_time": 0, "sum_tags": 0, "sum_video": 0, "sum_reply": 0,
             "sum_retweet": 0, "sum_like": 0, "languages": {},
             "planted_k": len(CENTERS), "planted_cost": 0.0}
    lines = []
    for r in range(rows):
        t, tags, lang, video = feats[r]
        tags_f, tags_v = _tags_field(rng, tags)
        video_f, video_v = _video_field(rng, video)
        counts = [_count_field(rng) for _ in range(3)]
        f = [_filler(rng) for _ in range(24)]
        f[0] = str(ids[r])
        f[4] = _time_field(rng, t)
        f[11] = lang
        f[15], f[16], f[17] = (c[0] for c in counts)
        f[18] = tags_f
        f[23] = video_f
        lines.append(",".join(f))
        truth["sum_time"] += t
        truth["sum_tags"] += tags_v
        truth["sum_video"] += video_v
        truth["sum_reply"] += counts[0][1]
        truth["sum_retweet"] += counts[1][1]
        truth["sum_like"] += counts[2][1]
        truth["languages"][lang] = truth["languages"].get(lang, 0) + 1
        truth["planted_cost"] += distance(feats[r], CENTERS[labels[r]])
    truth["planted_cost"] /= rows
    # a fixed share of every reject kind, at seeded positions
    n_rej = max(3, rows // 200)
    for kind in ("empty", "short", "bad_id"):
        for _ in range(n_rej):
            if kind == "empty":
                line = ""
            elif kind == "short":
                line = ",".join("s%d" % i for i in range(rng.randrange(1, 24)))
            else:
                f = [_filler(rng) for _ in range(24)]
                f[0] = rng.choice(["x%d" % rng.randrange(10 ** 6), "12a3", "id"])
                line = ",".join(f)
            lines.insert(rng.randrange(len(lines) + 1), line)
            truth["rejects"][kind] += 1
    truth["input_rows"] = len(lines)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "tweets.csv"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    _write_truth(out, truth)
    return truth


# ---------------------------------------------------------------------------
# Text corpora: (doc_id, text, source); shingles are word trigrams over
# single-space tokens (TextHash.shingleHashes).

SOURCES = ["web", "news", "books", "forum"]


def _vocab(rng, n=6000):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(3, 9))))
    return sorted(words)


def shingles(words):
    return {tuple(words[i:i + 3]) for i in range(len(words) - 2)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


class _Texts:
    def __init__(self, rng):
        self.rng = rng
        self.vocab = _vocab(rng)

    def fresh(self):
        return [self.rng.choice(self.vocab) for _ in range(self.rng.randrange(60, 120))]

    def near_copy(self, base, lo=0.6):
        """A copy of `base` with scattered word substitutions, redrawn until
        its exact trigram Jaccard to `base` is at least `lo`. Returns the
        words and that Jaccard; no substitution gives an exact copy."""
        while True:
            words = list(base)
            for _ in range(self.rng.randrange(0, 4)):
                words[self.rng.randrange(len(words))] = self.rng.choice(self.vocab)
            j = jaccard(base, words)
            if j >= lo:
                return words, j

    def near_miss(self, base):
        """Shares base's first third and nothing else: Jaccard well under 0.5."""
        keep = len(base) // 3
        words = base[:keep] + self.fresh()[keep:]
        return words, jaccard(base, words)


def _ids(rng, n):
    ids = set()
    while len(ids) < n:
        ids.add(rng.randrange(1, 1 << 40))
    ids = sorted(ids)
    rng.shuffle(ids)
    return ids


def _corpus(texts, rng, n_docs, dup_share=0.12, miss_share=0.02):
    """Docs with planted near-dup families and near misses. Returns rows
    (doc_id, text, source) and the truth: families as lists of
    [doc_id, Jaccard to the family's base] (the base first, Jaccard 1.0)."""
    ids = _ids(rng, n_docs)
    rows, families, misses = [], [], []
    i = 0
    while i < n_docs:
        base = texts.fresh()
        src = rng.choice(SOURCES)
        rows.append((ids[i], " ".join(base), src))
        i += 1
        r = rng.random()
        if r < dup_share and i < n_docs:
            fam = [[ids[i - 1], 1.0]]
            for _ in range(rng.randrange(1, 4)):
                if i >= n_docs:
                    break
                words, j = texts.near_copy(base)
                rows.append((ids[i], " ".join(words), src))
                fam.append([ids[i], j])
                i += 1
            families.append(fam)
        elif r < dup_share + miss_share and i < n_docs:
            words, j = texts.near_miss(base)
            rows.append((ids[i], " ".join(words), src))
            misses.append([ids[i - 1], ids[i], j])
            i += 1
    return rows, {"docs": n_docs, "families": families, "near_misses": misses,
                  "planted_removed": sum(len(f) - 1 for f in families)}


def _write_parquet(path, rows):
    table = pa.table({"doc_id": pa.array([r[0] for r in rows], pa.int64()),
                      "text": pa.array([r[1] for r in rows], pa.string()),
                      "source": pa.array([r[2] for r in rows], pa.string())})
    pq.write_table(table, path, compression="snappy")


def _write_truth(out, truth):
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump(truth, fh, sort_keys=True)


def gen_corpus(seed, out, docs, slice_docs):
    rng = random.Random("corpus-%d" % seed)
    texts = _Texts(rng)
    rows, truth = _corpus(texts, rng, docs)
    srows, struth = _corpus(texts, rng, slice_docs)
    os.makedirs(out, exist_ok=True)
    _write_parquet(os.path.join(out, "corpus.parquet"), rows)
    _write_parquet(os.path.join(out, "slice.parquet"), srows)
    truth = {"corpus": truth, "slice": struth, "input_rows": docs + slice_docs}
    _write_truth(out, truth)
    return truth


def gen_index(seed, out, base_docs, batches, batch_docs, compact_every,
              dup_share=0.1):
    """A base corpus for the band index and a stream of batches. A planted
    share of each batch near-copies a doc that is in the index by then: a
    base doc or an accepted (fresh) doc of an earlier batch."""
    rng = random.Random("index-%d" % seed)
    texts = _Texts(rng)
    ids = _ids(rng, base_docs + batches * batch_docs)
    base = [(ids[i], texts.fresh(), rng.choice(SOURCES)) for i in range(base_docs)]
    indexed = list(base)
    os.makedirs(os.path.join(out, "batches"), exist_ok=True)
    _write_parquet(os.path.join(out, "base.parquet"),
                   [(i, " ".join(w), s) for i, w, s in base])
    pairs, nxt = [], base_docs
    for b in range(batches):
        rows, fresh = [], []
        for _ in range(batch_docs):
            doc_id = ids[nxt]
            nxt += 1
            if rng.random() < dup_share:
                src_id, src_words, src = rng.choice(indexed)
                words, j = texts.near_copy(src_words)
                pairs.append([doc_id, src_id, j])
            else:
                words, src = texts.fresh(), rng.choice(SOURCES)
                fresh.append((doc_id, words, src))
            rows.append((doc_id, " ".join(words), src))
        _write_parquet(os.path.join(out, "batches", "b%03d.parquet" % b), rows)
        indexed.extend(fresh)
    truth = {"base_docs": base_docs, "batches": batches, "batch_docs": batch_docs,
             "compact_every": compact_every, "planted_pairs": pairs,
             "input_rows": batches * batch_docs}
    _write_truth(out, truth)
    return truth


GENERATORS = {"tweets-kmedoids": gen_tweets, "corpus-dedup": gen_corpus,
              "index-ingest": gen_index}


def generate(workload, seed, out):
    return GENERATORS[workload](seed, out, **SIZES[workload])


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit("usage: gen.py {%s} SEED OUT_DIR" % "|".join(GENERATORS))
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
