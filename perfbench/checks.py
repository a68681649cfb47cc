"""Correctness checks: the engine's outputs against independent references.

Every reference is computed here, from the generated inputs, without Spark:
  - tweet_pipeline: the collector's expected lines (track filter, French
    filter and the sanitizer, re-implemented), the README SQL counts and the
    group-by-text counts; K-Means assignments against the nearest centre
    recomputed from the model's centres.
  - curation_batch: each entry's rows against its `SparkEntry.oracleSql`
    twin run in DuckDB over the same parquet tables, by canonical digest.
  - index_ingest_serve: corpus integrity after ingest and compaction; IVF
    hits replayed exactly (the persisted two-level probe-cell choice, then
    cosine top-k over the probed cells' rows); PQ ADC scores recomputed by
    brute force from the codes and codebooks, with a recall floor against
    exact L2 top-k; BM25 scores
    from the Okapi formula (k1 = 1.2, b = 0.75) in the engine's exact
    integer-micros form.

Each check returns a list of problems (empty when the output is right).
`selftest.py` feeds each one a corrupted output and asserts that it fails.
"""
import collections
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import sys
import unicodedata

import numpy as np
import pyarrow.parquet as pq

import gen

# PQ recall@10 floor against the exact L2 top-10. With 8 queries a run, one
# query's miss moves recall by 0.125; over seeds 1-20 PQ measured
# 0.575-0.775 (README.md). IVF is checked exactly instead, and its recall
# against the global cosine top-10 is only reported.
PQ_RECALL_FLOOR = 0.25
K = 10
# ivfSearchQuery's probe: nprobe cells among the cells of the coarse tier's
# wCoarse open super-cells (an nlist-64 index persists a coarse tier)
NPROBE, W_COARSE = 4, 2


# —— tweet_pipeline ——

def sanitize(text):
    """The collector's sanitizer: null → "", drop tab and double quote, drop
    the 4-char `[`+CR+LF+`]` sequence, comma → apostrophe, drop every
    Unicode control/format character (category C*)."""
    t = "" if text is None else text
    t = t.replace("\t", "").replace('"', "").replace("[\r\n]", "").replace(",", "'")
    return "".join(ch for ch in t if not unicodedata.category(ch).startswith("C"))


def read_statuses(archive_dir):
    out = []
    for path in sorted(glob.glob(os.path.join(archive_dir, "*.json"))):
        with open(path, encoding="utf-8") as fh:
            out += [json.loads(line) for line in fh]
    return out


def expected_rows(statuses):
    """(text, lat, lon, created_at) of every status the collector keeps."""
    rows = []
    for s in statuses:
        text = s.get("text")
        lang = (s.get("user") or {}).get("lang") or ""
        if text is None or not any(k in text for k in gen.TRACK) or not lang.startswith("fr"):
            continue
        geo = s.get("geo")
        ts = datetime.datetime.strptime(s["created_at"], "%Y-%m-%dT%H:%M:%S.000Z")
        rows.append((sanitize(text),
                     None if geo is None else geo["latitude"],
                     None if geo is None else geo["longitude"],
                     ts.strftime("%Y-%m-%d %H:%M:%S.0")))
    return rows


def check_lines(expected, lines):
    problems = []
    if len(lines) != len(expected):
        problems.append("collected %d lines, expected %d" % (len(lines), len(expected)))
    got = []
    for ln in lines:
        f = ln.split("|")
        bad = [c for c in ln if c in '\t",' or unicodedata.category(c).startswith("C")]
        if len(f) != 4 or bad:
            problems.append("malformed line %r" % ln[:80])
            continue
        geo = [None if x == "" else float(np.float32(x)) for x in f[1:3]]
        got.append((f[0], geo[0], geo[1], f[3]))
    # a float column renders its float32 value; read back, it is that value
    want = [(t, None if a is None else float(np.float32(a)),
             None if b is None else float(np.float32(b)), ts)
            for t, a, b, ts in expected]
    if collections.Counter(got) != collections.Counter(want):
        problems.append("collected lines differ from the expected lines")
    return problems


def check_groups(expected, groups):
    want = collections.Counter(t for t, _, _, _ in expected)
    if dict(want) != dict(groups):
        return ["group-by-text counts differ (%d groups, expected %d)" % (len(groups), len(want))]
    return []


def check_kmeans(x, pred, centers, n_rows):
    problems = []
    if len(pred) != n_rows:
        problems.append("%d assignments for %d rows" % (len(pred), n_rows))
    d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(-1)
    best = d.min(1)
    mine = d[np.arange(len(pred)), pred]
    wrong = int((mine > best + 1e-9 * (1 + best)).sum())
    if wrong:
        problems.append("%d assignments are not the nearest centre" % wrong)
    return problems


def check_tweets(run_dir, res):
    rows = expected_rows(read_statuses(os.path.join(run_dir, "in", "tweets")))
    out = os.path.join(run_dir, "out")
    lines = []
    for path in sorted(glob.glob(os.path.join(out, "lines", "*.txt"))):
        with open(path, encoding="utf-8", newline="\n") as fh:
            lines += fh.read().split("\n")[:-1]
    problems = check_lines(rows, lines)
    g = pq.read_table(os.path.join(out, "group_by_text")).to_pydict()
    problems += check_groups(rows, dict(zip(g["text"], g["n"])))
    with open(os.path.join(out, "sql.json")) as fh:
        sql = json.load(fh)
    n = len(rows)
    for key in ("collected", "count", "not_null", "typed_rows", "cluster_sizes"):
        if sql[key] != n:
            problems.append("%s = %d, expected %d" % (key, sql[key], n))
    a = pq.read_table(os.path.join(out, "assignments")).to_pydict()
    with open(os.path.join(out, "centers.json")) as fh:
        centers = np.array(json.load(fh))
    problems += check_kmeans(np.array(a["x"]), np.array(a["prediction"]), centers, n)
    for i, facts in enumerate(res["summary"]["passes"]):
        if facts != [n] * len(facts):
            problems.append("timed pass %d counted %s, expected %d" % (i + 1, facts, n))
    return problems


# —— curation_batch ——

def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return "%.9g" % v
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return canon(float(v))
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s:%s" % (k, canon(x)) for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(cols, rows):
    """Order-insensitive digest: columns by name, values canonical (floats
    at 9 significant digits), rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x1f".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def check_table(name, got_cols, got_rows, want_cols, want_rows):
    if sorted(got_cols) != sorted(want_cols):
        return ["%s: columns %s, expected %s" % (name, sorted(got_cols), sorted(want_cols))]
    if len(got_rows) != len(want_rows):
        return ["%s: %d rows, expected %d" % (name, len(got_rows), len(want_rows))]
    if digest(got_cols, got_rows) != digest(want_cols, want_rows):
        return ["%s: digest differs from the DuckDB oracle" % name]
    return []


# The brute-force all-pairs shingle-Jaccard subquery that several oracle
# twins embed runs DuckDB's inequality nested loop: about 30 s at 500
# documents. This inverted-index form gives the same pairs (pairs that
# share no shingle have Jaccard 0). It runs once per check into a table
# that every twin embedding the subquery reads; the substitution is
# exact-substring, so a drifted twin fails loudly instead of being checked
# against other SQL.
_SHINGLES = (
    "WITH sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, "
    "greatest(len(coalesce(text,''))-4, 0)), i -> coalesce(text,'')[i:i+4])) AS s "
    "FROM documents)")
PAIRS_LITERAL = _SHINGLES + (
    " SELECT a_doc_id, b_doc_id, jaccard FROM (SELECT a.doc_id AS "
    "a_doc_id, b.doc_id AS b_doc_id, round(len(list_intersect(a.s, b.s))::DOUBLE "
    "/ len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard FROM sh a JOIN "
    "sh b ON a.doc_id < b.doc_id WHERE len(a.s) > 0 AND len(b.s) > 0) "
    "WHERE jaccard >= 0.8")
PAIRS_FAST = _SHINGLES + (
    ", sz AS (SELECT doc_id, len(s) AS n FROM sh WHERE len(s) > 0), "
    "ex AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE len(s) > 0), "
    "cm AS (SELECT a.doc_id AS a_doc_id, b.doc_id AS b_doc_id, count(*) AS c "
    "FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT a_doc_id, b_doc_id, round(c::DOUBLE / (sa.n + sb.n - c), 4) AS jaccard "
    "FROM cm JOIN sz sa ON sa.doc_id = cm.a_doc_id JOIN sz sb ON sb.doc_id = cm.b_doc_id "
    "WHERE round(c::DOUBLE / (sa.n + sb.n - c), 4) >= 0.8")
PAIRS_TABLE = "SELECT a_doc_id, b_doc_id, jaccard FROM nd_pairs"
PAIR_TWINS = {"near_dup_pairs", "near_dup_clusters", "doc_curation_decisions"}


def oracle_sql(name, sql):
    if name in PAIR_TWINS:
        if PAIRS_LITERAL not in sql:
            raise ValueError("the oracle twin of %s no longer embeds the pair subquery" % name)
        sql = sql.replace(PAIRS_LITERAL, PAIRS_TABLE)
    # evaluate the pair CTE once, not once per recursion step (same rows)
    return sql.replace("WITH RECURSIVE nd AS (", "WITH RECURSIVE nd AS MATERIALIZED (", 1)


def duckdb_tables(sf_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(sf_dir, t + ".parquet")
        if os.path.exists(path):
            con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, path))
    return con


def check_curation(run_dir, res):
    con = duckdb_tables(os.path.join(run_dir, "in", "sf"))
    con.execute("CREATE TEMP TABLE nd_pairs AS " + PAIRS_FAST)
    out = os.path.join(run_dir, "out")
    problems = []
    for name in res["summary"]["entries"]:
        with open(os.path.join(out, name + ".sql")) as fh:
            sql = fh.read()
        w = con.execute(oracle_sql(name, sql))
        want_cols, want_rows = [d[0] for d in w.description], w.fetchall()
        g = con.execute("SELECT * FROM read_parquet('%s/*.parquet')" % os.path.join(out, name))
        problems += check_table(name, [d[0] for d in g.description], g.fetchall(),
                                want_cols, want_rows)
    return problems


# —— index_ingest_serve ——

def read_vectors(paths):
    ids, vecs = [], []
    for p in paths:
        t = pq.read_table(p).to_pydict()
        ids += t["vec_id"]
        vecs += t["embedding"]
    return np.array(ids, dtype=np.int64), np.array(vecs, dtype=np.float32).astype(np.float64)


def read_texts(paths, id_col):
    out = {}
    for p in paths:
        t = pq.read_table(p).to_pydict()
        out.update(zip(t[id_col], t["text"]))
    return out


def by_query(rows, id_col, score_col):
    out = collections.defaultdict(list)
    for r in rows:
        out[int(r["query_id"])].append((int(r[id_col]), r[score_col]))
    return out


def check_corpus(ids, n_expected, cell_files):
    problems = []
    if len(ids) != n_expected or len(set(ids)) != len(ids):
        problems.append("corpus holds %d rows, %d distinct ids, expected %d"
                        % (len(ids), len(set(ids)), n_expected))
    many = {c: n for c, n in cell_files.items() if n != 1}
    if many:
        problems.append("cells with other than one file after compaction: %s"
                        % sorted(many.items())[:5])
    return problems


def check_scored(name, results, ref_score, ref_topk, tol, higher_better):
    """Every returned score equals the reference score of its pair, and the
    returned scores are the reference's best k (all of them, when the
    reference holds fewer)."""
    problems = []
    for q, hits in sorted(results.items()):
        bad = [(v, s) for v, s in hits if abs(s - ref_score(q, v)) > tol(s)]
        if bad:
            problems.append("%s: query %d: %d scores differ from the reference, e.g. %s vs %r"
                            % (name, q, len(bad), bad[0], ref_score(q, bad[0][0])))
            continue
        got = sorted((s for _, s in hits), reverse=higher_better)
        want = ref_topk(q)[:len(got)]
        if len(got) != min(K, len(ref_topk(q))) or any(
                abs(a - b) > tol(a) for a, b in zip(got, want)):
            problems.append("%s: query %d: returned scores are not the top %d" % (name, q, K))
    return problems


def recall(results, exact_topk):
    hits = [len({v for v, _ in h} & set(exact_topk(q)[:K])) / K for q, h in results.items()]
    return sum(hits) / max(1, len(hits))


def _l2_ranked(v, rows):
    """Indexes of `rows` by squared-L2 distance to `v`, ties by index."""
    return np.argsort(((rows - v[None, :]) ** 2).sum(-1), kind="stable")


def probe_cells(centers, coarse_centers, cell_to_coarse, queries,
                nprobe=NPROBE, w_coarse=W_COARSE):
    """The engine's documented probe-cell choice, per query: rank the
    coarse centres by squared L2, open the best `w_coarse`, rank the cells
    they hold by squared L2 to their centroids and take `nprobe`
    (`Similarity.probeCellsCoarseRanked`)."""
    out = []
    for v in queries:
        opened = set(_l2_ranked(v, coarse_centers)[:w_coarse].tolist())
        cells = np.array([c for c in range(len(centers)) if cell_to_coarse[c] in opened])
        out.append(set(cells[_l2_ranked(v, centers[cells])[:nprobe]].tolist()))
    return out


def read_ivf_quantizer(out):
    def rows(path, key, val):
        t = pq.read_table(path).to_pydict()
        return [x for _, x in sorted(zip(t[key], t[val]))]
    coarse = os.path.join(out, "ivf_coarse")
    return (np.array(rows(os.path.join(out, "ivf_centers"), "cell", "center")),
            np.array(rows(os.path.join(coarse, "centers"), "coarse", "center")),
            rows(os.path.join(coarse, "assign"), "cell", "coarse"))


def check_probed(name, results, cell_of, probed):
    """Every hit lies in one of its query's probed cells."""
    problems = []
    for q, hits in sorted(results.items()):
        out = [v for v, _ in hits if cell_of.get(v) not in probed[q]]
        if out:
            problems.append("%s: query %d: %d hits outside the probed cells %s, e.g. %d"
                            % (name, q, len(out), sorted(probed[q]), out[0]))
    return problems


def cosine_reference(corpus_ids, corpus, q_ids, queries):
    norm_c = np.linalg.norm(corpus, axis=1)
    cos = (queries @ corpus.T) / (np.linalg.norm(queries, axis=1)[:, None] * norm_c[None, :])
    qi = {int(q): i for i, q in enumerate(q_ids)}
    ci = {int(c): i for i, c in enumerate(corpus_ids)}
    order = np.argsort(-cos, axis=1, kind="stable")
    return (lambda q, v: cos[qi[q], ci[v]],
            lambda q: [int(corpus_ids[j]) for j in order[qi[q], :K]])


def adc_reference(codes_ids, codes, codebooks, q_ids, queries):
    m, ksub, dsub = codebooks.shape
    # per query, per subspace, squared distance to every codeword
    qs = queries.reshape(len(queries), m, 1, dsub)
    tab = ((qs - codebooks[None]) ** 2).sum(-1)  # (q, m, ksub)
    adc = tab[:, np.arange(m)[None, :], codes].sum(-1)  # (q, n)
    qi = {int(q): i for i, q in enumerate(q_ids)}
    ci = {int(c): i for i, c in enumerate(codes_ids)}
    return (lambda q, v: adc[qi[q], ci[v]],
            lambda q: sorted(adc[qi[q]])[:K])


def half_up(x):
    return int(decimal.Decimal(repr(x)).quantize(decimal.Decimal(1), decimal.ROUND_HALF_UP))


def bm25_reference(docs, queries):
    """Okapi BM25 at k1 = 1.2, b = 0.75 in the engine's exact form:
    idf_micros = round(ln((N - df + 0.5) / (df + 0.5) + 1) * 1e6) and per
    (doc, term) round(idf_micros * 22 tf L / (10 tf L + 3 L + 9 N dl)),
    L = sum of dl, summed over the query's distinct terms."""
    toks = {d: t.split() for d, t in docs.items()}
    n = len(toks)
    total = sum(len(t) for t in toks.values())
    df = collections.Counter(w for t in toks.values() for w in set(t))
    tf = {d: collections.Counter(t) for d, t in toks.items()}
    idf = {w: half_up(math.log((n - c + 0.5) / (c + 0.5) + 1.0) * 1e6) for w, c in df.items()}
    scores = {}
    for q, text in queries.items():
        terms = set(text.split())
        s = {}
        for d, counts in tf.items():
            if d == q:
                continue
            dl = len(toks[d])
            acc, hit = 0, False
            for w in terms:
                f = counts.get(w, 0)
                if f:
                    hit = True
                    num = 22.0 * f * float(total)
                    den = 10.0 * f * float(total) + 3.0 * total + 9.0 * n * dl
                    acc += half_up(idf[w] * num / den)
            if hit:
                s[d] = acc
        scores[q] = s
    return (lambda q, d: scores[q].get(d, float("nan")),
            lambda q: sorted(scores[q].values(), reverse=True))


def check_index(run_dir, res):
    inp = os.path.join(run_dir, "in")
    out = os.path.join(run_dir, "out")
    problems = []
    c_ids, corpus = read_vectors([os.path.join(inp, "corpus.parquet")])
    a_ids, appended = read_vectors(sorted(glob.glob(os.path.join(inp, "append_vec", "*.parquet"))))
    q_ids, queries = read_vectors([os.path.join(inp, "q_vec", gen.CHECKED_QUERIES)])
    dump = pq.read_table(os.path.join(out, "ivf_corpus_ids")).to_pydict()
    ids = dump["vec_id"]
    with open(os.path.join(out, "ivf_cells.json")) as fh:
        cells = json.load(fh)
    problems += check_corpus(ids, len(c_ids) + len(a_ids), cells)

    all_ids = np.concatenate([c_ids, a_ids])
    all_vecs = np.concatenate([corpus, appended])
    score, topk_ids = cosine_reference(all_ids, all_vecs, q_ids, queries)
    ivf = by_query(json.load(open(os.path.join(out, "ivf.json"))), "vec_id", "cosine")
    cell_of = dict(zip(dump["vec_id"], dump["cell"]))
    probed = dict(zip((int(q) for q in q_ids), probe_cells(*read_ivf_quantizer(out), queries)))
    problems += check_ivf(ivf, score, cell_of, probed)
    check_recall("ivf", ivf, topk_ids, None)

    codes_t = pq.read_table(os.path.join(run_dir, "built", "pq", "codes")).to_pydict()
    cb = pq.read_table(os.path.join(run_dir, "built", "pq", "codebooks")).to_pydict()
    m, ksub = max(cb["subspace"]) + 1, max(cb["codeword"]) + 1
    codebooks = np.zeros((m, ksub, len(cb["center"][0])))
    for s, c, v in zip(cb["subspace"], cb["codeword"], cb["center"]):
        codebooks[s, c] = v
    adc, adc_top = adc_reference(np.array(codes_t["vec_id"]), np.array(codes_t["codes"]),
                                 codebooks, q_ids, queries)
    pqr = by_query(json.load(open(os.path.join(out, "pq.json"))), "vec_id", "adc")
    problems += check_scored("pq", pqr, adc, adc_top, lambda s: 2e-6 + 1e-9 * abs(s), False)
    problems += check_recall("pq", pqr, l2_topk(c_ids, corpus, q_ids, queries),
                             PQ_RECALL_FLOOR)

    docs = read_texts([os.path.join(inp, "docs.parquet")] +
                      sorted(glob.glob(os.path.join(inp, "append_docs", "*.parquet"))), "doc_id")
    qtexts = read_texts([os.path.join(inp, "q_text", gen.CHECKED_QUERIES)], "query_id")
    bscore, btop = bm25_reference(docs, qtexts)
    bm = by_query(json.load(open(os.path.join(out, "bm25.json"))), "doc_id", "score_micros")
    problems += check_scored("bm25", bm, bscore, btop, lambda s: 0, True)
    for name, r, want in (("ivf", ivf, q_ids), ("pq", pqr, q_ids), ("bm25", bm, list(qtexts))):
        if sorted(r) != sorted(int(q) for q in want):
            problems.append("%s served %d of %d queries" % (name, len(r), len(want)))
    return problems


def check_ivf(results, score, cell_of, probed):
    """IVF hits are exact for the documented probe: each query's hits lie
    in its probed cells, carry their true cosines, and are the cosine top-k
    of the corpus rows in those cells."""
    members = collections.defaultdict(list)
    for v, c in cell_of.items():
        members[c].append(v)

    def ref_top(q):
        return sorted((score(q, v) for c in probed[q] for v in members[c]), reverse=True)
    return (check_probed("ivf", results, cell_of, probed) +
            check_scored("ivf", results, score, ref_top, lambda s: 1.5e-6, True))


def l2_topk(corpus_ids, corpus, q_ids, queries):
    d = ((queries[:, None, :] - corpus[None, :, :]) ** 2).sum(-1)
    qi = {int(q): i for i, q in enumerate(q_ids)}
    order = np.argsort(d, axis=1, kind="stable")
    return lambda q: [int(corpus_ids[j]) for j in order[qi[q], :K]]


def check_recall(name, results, exact_ids, floor):
    """Recall@K against the exact top-K, on stderr; a problem below `floor`
    (None: reported only)."""
    r = recall(results, exact_ids)
    sys.stderr.write("perfbench: %s recall@%d %.3f (floor %s)\n" % (name, K, r, floor))
    if floor is not None and r < floor:
        return ["%s: recall@%d %.3f below the floor %.2f" % (name, K, r, floor)]
    return []


CHECKS = {
    "tweet_pipeline": check_tweets,
    "curation_batch": check_curation,
    "index_ingest_serve": check_index,
}


def check_run(workload, run_dir, res):
    return CHECKS[workload](run_dir, res)
