"""Seeded input archives for the three workloads.

Every input is made here, in one process, from `--seed`; the engine only
ever sees the files. The same seed gives byte-identical files. Sizes are
fixed per workload (the seed changes content, never volume), so runs with
different seeds do the same amount of work.
"""
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TRACK = ["#LePen", "#Macron", "#Fillon", "#JLM2017", "#Hamon", "#Mélenchon", "#Sarkozy"]
WORDS_FR = ("vote débat élection candidat programme meeting sondage premier tour "
            "second ce soir demain république france jeunes travail économie "
            "europe sécurité école santé").split()
WORDS_EN = ("vote debate election candidate poll rally tonight tomorrow france "
            "jobs economy europe security school health news live watch").split()
# Oddities the collector has to sanitize: tab, quote, comma, control and
# format characters, CR/LF and the literal 4-char `[`+CR+LF+`]` sequence.
ODD = ["\t", '"', ",", ", ", "\x01", "\x07", "\r\n", "[\r\n]", "\u200b", "\u00a0", "\U0001f1eb\U0001f1f7", "é"]
LANGS = [("fr", 40), ("fr-CA", 8), ("en", 25), ("es", 10), ("de", 5), (None, 7), ("NOUSER", 5)]

# Fixed sizes (the seed never changes them).
TWEET_FILES, TWEETS_PER_FILE = 5, 300
DOCS = 500
IVF_CORPUS, IVF_CELLS_TRUE, DIM = 1024, 64, 64
APPEND_FILES, APPEND_VECS, APPEND_DOCS = 1, 128, 64
BM25_DOCS = 800
# Query files per serving stream: the timed passes serve all of them, one
# serving round each; the checked warm pass serves CHECKED_QUERIES only.
SERVE_FILES, QUERIES_PER_FILE = 3, 8
CHECKED_QUERIES = "part-00000.parquet"


def _pick(rng, weighted):
    total = sum(w for _, w in weighted)
    x = rng.uniform(0, total)
    for v, w in weighted:
        x -= w
        if x <= 0:
            return v
    return weighted[-1][0]


def _stamp(path, i):
    """Distinct, increasing modification times: the file source replays
    files in modification-time order, so every run sees the same order."""
    t = 1_500_000_000 + i
    os.utime(path, (t, t))


def tweets(out, seed, files=TWEET_FILES):
    """JSON-lines status archive: `files` files of TWEETS_PER_FILE.

    Which statuses the collector keeps (French, with a track hashtag), where
    they sit and their texts come from a fixed generator, so every seed
    feeds K-Means the same texts and it runs the same iterations. The seed
    draws everything else: the dropped statuses, and every status's geo and
    timestamp."""
    rng = random.Random(seed * 1000003 + 1)
    fixed = random.Random(1)
    os.makedirs(out, exist_ok=True)
    seen = {True: [], False: []}

    def text(r, kept):
        if seen[kept] and r.random() < 0.12:
            return r.choice(seen[kept])  # a retweet: same text again
        words = WORDS_FR if r.random() < 0.6 else WORDS_EN
        toks = [r.choice(words) for _ in range(r.randint(3, 14))]
        if kept or r.random() < 0.6:
            for _ in range(r.randint(1, 2)):
                toks.insert(r.randint(0, len(toks)), r.choice(TRACK))
        for _ in range(r.choice([0, 0, 1, 2])):
            toks.insert(r.randint(0, len(toks)), r.choice(ODD))
        t = " ".join(toks)
        seen[kept].append(t)
        return t

    for f in range(files):
        path = os.path.join(out, "part-%05d.json" % f)
        with open(path, "w", encoding="utf-8") as fh:
            for i in range(TWEETS_PER_FILE):
                if fixed.random() < 0.3:
                    status = {"text": text(fixed, True),
                              "user": {"lang": fixed.choice(["fr", "fr", "fr-CA"])}}
                else:
                    # dropped: no track hashtag, or not French
                    lang = _pick(rng, LANGS)
                    t = None if rng.random() < 0.02 else text(rng, False)
                    if t is not None and (lang or "").startswith("fr"):
                        for k in TRACK:
                            t = t.replace(k, k[1:])
                    status = {"text": t}
                    if lang != "NOUSER":
                        status["user"] = {"lang": lang}
                if rng.random() < 0.6:
                    status["geo"] = {"latitude": round(rng.uniform(41.0, 51.0), 4),
                                     "longitude": round(rng.uniform(-4.0, 8.0), 4)}
                status["created_at"] = "2017-04-%02dT%02d:%02d:%02d.000Z" % (
                    rng.randint(1, 28), rng.randint(0, 23), rng.randint(0, 59),
                    rng.randint(0, 59))
                fh.write(json.dumps(status, ensure_ascii=False) + "\n")
        _stamp(path, f)
    with open(out + ".count", "w") as fh:
        fh.write("%d\n" % (files * TWEETS_PER_FILE))


# The `documents` fixture's shape (FIXTURES.md; measured on the sf0.001,
# sf0.01 and sf0.1 files): texts of 10-100 words drawn uniformly from these
# 30 words, and 5% of the documents a copy of another document's text with
# " dup" appended, which makes a near-duplicate pair (shingle Jaccard about
# 0.96-0.99). Two copies of one text are exact duplicates of each other.
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
DOC_WORDS = (10, 100)
DUP_SHARE = 0.05
DOC_LANGS = [("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14)]


def curation(out, seed):
    """The `documents` table in the fixture schema and shape (see VOCAB)."""
    rng = random.Random(seed * 1000003 + 2)
    os.makedirs(out, exist_ok=True)
    base = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(*DOC_WORDS)))
            for _ in range(DOCS)]
    texts = list(base)
    for i in rng.sample(range(DOCS), int(DOCS * DUP_SHARE)):
        texts[i] = base[rng.choice([j for j in range(DOCS) if j != i])] + " dup"
    langs = [_pick(rng, DOC_LANGS) for _ in range(DOCS)]
    docs = pa.table({
        "doc_id": pa.array(range(DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(["src%d" % (i % 20) for i in range(DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(docs, os.path.join(out, "documents.parquet"))


def _vec_table(ids, vecs):
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.array(list(vecs.astype(np.float32)),
                                           pa.list_(pa.float32()))})


def _write_files(d, tables):
    os.makedirs(d, exist_ok=True)
    for i, t in enumerate(tables):
        path = os.path.join(d, "part-%05d.parquet" % i)
        pq.write_table(t, path)
        _stamp(path, i)


def index(out, seed):
    """Vector corpus (64 true clusters, 64-d), an append archive and query
    files for the vector indexes; a Zipf-worded document corpus, an append
    archive and query files for BM25."""
    g = np.random.default_rng(seed * 1000003 + 4)
    centers = g.normal(0, 1, (IVF_CELLS_TRUE, DIM))

    def draw(n):
        return centers[g.integers(0, IVF_CELLS_TRUE, n)] + g.normal(0, 0.35, (n, DIM))

    os.makedirs(out, exist_ok=True)
    pq.write_table(_vec_table(range(IVF_CORPUS), draw(IVF_CORPUS)),
                   os.path.join(out, "corpus.parquet"))
    base = IVF_CORPUS
    _write_files(os.path.join(out, "append_vec"), [
        _vec_table(range(base + f * APPEND_VECS, base + (f + 1) * APPEND_VECS),
                   draw(APPEND_VECS)) for f in range(APPEND_FILES)])
    qid = 10_000_000
    _write_files(os.path.join(out, "q_vec"), [
        _vec_table(range(qid + f * QUERIES_PER_FILE, qid + (f + 1) * QUERIES_PER_FILE),
                   draw(QUERIES_PER_FILE)) for f in range(SERVE_FILES)])

    rng = random.Random(seed * 1000003 + 5)
    vocab = ["w%03d" % i for i in range(400)]
    weights = [1.0 / (i + 1) for i in range(len(vocab))]

    def text(lo, hi):
        return " ".join(rng.choices(vocab, weights, k=rng.randint(lo, hi)))

    def doc_table(ids, lo, hi, id_col="doc_id"):
        return pa.table({id_col: pa.array(ids, pa.int64()),
                         "text": pa.array([text(lo, hi) for _ in ids], pa.string())})

    pq.write_table(doc_table(range(BM25_DOCS), 10, 40), os.path.join(out, "docs.parquet"))
    _write_files(os.path.join(out, "append_docs"), [
        doc_table(range(BM25_DOCS + f * APPEND_DOCS, BM25_DOCS + (f + 1) * APPEND_DOCS),
                  10, 40) for f in range(APPEND_FILES)])
    _write_files(os.path.join(out, "q_text"), [
        doc_table(range(qid + f * QUERIES_PER_FILE, qid + (f + 1) * QUERIES_PER_FILE),
                  3, 5, "query_id") for f in range(SERVE_FILES)])


MAKERS = {
    "tweet_pipeline": lambda d, s: tweets(os.path.join(d, "tweets"), s),
    "curation_batch": lambda d, s: curation(os.path.join(d, "sf"), s),
    "index_ingest_serve": index,
}


def make(workload, in_dir, seed):
    MAKERS[workload](in_dir, seed)
