"""Self-test of the correctness checks: each check must pass on a right
output and fail on a deliberately corrupted one.

    python3 perfbench/selftest.py

Needs no Spark: the right outputs are built from the references in
checks.py over inputs made by gen.py (seed 5), then corrupted one way each.
Exits non-zero if a check passes a corrupted output or fails a right one.
"""
import os
import shutil
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(os.path.dirname(HERE), ".bench_build", "selftest")
results = []


def expect(label, problems, should_fail):
    ok = bool(problems) == should_fail
    results.append(ok)
    print("%-4s %-52s %s" % ("ok" if ok else "FAIL", label,
                             problems[0] if problems else "passes"))


def replaced(results, q, hits):
    out = dict(results)
    out[q] = hits
    return out


def render(rows):
    """The lines a right collector writes for the expected rows."""
    def f(x):
        return "" if x is None else str(np.float32(x))
    return ["%s|%s|%s|%s" % (t, f(a), f(b), ts) for t, a, b, ts in rows]


def tweets():
    gen.tweets(os.path.join(WORK, "tweets"), 5)
    rows = checks.expected_rows(checks.read_statuses(os.path.join(WORK, "tweets")))
    lines = render(rows)
    expect("lines: right output", checks.check_lines(rows, lines), False)
    expect("lines: a dropped row", checks.check_lines(rows, lines[1:]), True)
    tab = list(lines)
    tab[3] = tab[3].replace(" ", "\t", 1)
    expect("lines: a line with a raw tab", checks.check_lines(rows, tab), True)
    groups = {}
    for t, _, _, _ in rows:
        groups[t] = groups.get(t, 0) + 1
    expect("group-by-text: right counts", checks.check_groups(rows, groups), False)
    bumped = dict(groups)
    bumped[rows[0][0]] += 1
    expect("group-by-text: a count off by one", checks.check_groups(rows, bumped), True)


def kmeans():
    g = np.random.default_rng(5)
    x = g.random((200, 30))
    centers = g.random((10, 30))
    pred = ((x[:, None, :] - centers[None]) ** 2).sum(-1).argmin(1)
    expect("kmeans: nearest-centre assignments", checks.check_kmeans(x, pred, centers, 200), False)
    wrong = pred.copy()
    wrong[7] = (wrong[7] + 1) % 10
    expect("kmeans: a point at the wrong centre", checks.check_kmeans(x, wrong, centers, 200), True)


def curation():
    sf = os.path.join(WORK, "sf")
    gen.curation(sf, 5)
    con = checks.duckdb_tables(sf)
    r = con.execute("SELECT text, count(*) AS n, min(doc_id) AS keep FROM documents GROUP BY text")
    cols, rows = [d[0] for d in r.description], r.fetchall()
    shuffled = list(reversed(rows))
    expect("digest: same rows in another order",
           checks.check_table("t", cols[::-1], [x[::-1] for x in shuffled], cols, rows), False)
    expect("digest: a dropped row", checks.check_table("t", cols, rows[1:], cols, rows), True)
    changed = list(rows)
    changed[4] = (changed[4][0], changed[4][1] + 1, changed[4][2])
    expect("digest: a changed value", checks.check_table("t", cols, changed, cols, rows), True)


def index():
    d = os.path.join(WORK, "index")
    gen.index(d, 5)
    c_ids, corpus = checks.read_vectors([os.path.join(d, "corpus.parquet")])
    q_ids, queries = checks.read_vectors([os.path.join(d, "q_vec", "part-00000.parquet")])

    cells = {"cell=%d" % c: 1 for c in range(64)}
    ids = list(range(len(c_ids)))
    expect("corpus: distinct ids, one file per cell", checks.check_corpus(ids, len(ids), cells), False)
    expect("corpus: a duplicated id after compaction",
           checks.check_corpus(ids[:-1] + [ids[0]], len(ids), cells), True)
    expect("corpus: a cell left with two files",
           checks.check_corpus(ids, len(ids), dict(cells, **{"cell=3": 2})), True)

    score, _ = checks.cosine_reference(c_ids, corpus, q_ids, queries)
    centers = corpus[:64]
    coarse = corpus[64:72]
    to_coarse = [int(np.argmin(((coarse - c) ** 2).sum(-1))) for c in centers]
    cell_of = {int(v): int(np.argmin(((centers - x) ** 2).sum(-1))) for v, x in zip(c_ids, corpus)}
    probed = dict(zip((int(q) for q in q_ids),
                      checks.probe_cells(centers, coarse, to_coarse, queries)))
    ivf = {}
    for q in probed:
        cand = sorted(((-round(score(q, v), 6), v) for v, c in cell_of.items() if c in probed[q]))
        ivf[q] = [(v, -s) for s, v in cand[:checks.K]]
    expect("ivf: probed cells' top-k", checks.check_ivf(ivf, score, cell_of, probed), False)
    q0 = int(q_ids[0])
    perturbed = replaced(ivf, q0, [(v, s + 1e-4) if i == 0 else (v, s)
                                   for i, (v, s) in enumerate(ivf[q0])])
    expect("ivf: a perturbed score", checks.check_ivf(perturbed, score, cell_of, probed), True)
    expect("ivf: a hit missing", checks.check_ivf(
        replaced(ivf, q0, ivf[q0][:-1]), score, cell_of, probed), True)
    outside = max((v for v, c in cell_of.items() if c not in probed[q0]), key=lambda v: score(q0, v))
    expect("ivf: a hit from an unprobed cell", checks.check_ivf(
        replaced(ivf, q0, ivf[q0][:-1] + [(outside, round(score(q0, outside), 6))]),
        score, cell_of, probed), True)

    g = np.random.default_rng(5)
    codebooks = g.random((8, 16, 8))
    codes = g.integers(0, 16, (len(c_ids), 8))
    adc, adc_top = checks.adc_reference(c_ids, codes, codebooks, q_ids, queries)
    order = {int(q): np.argsort([adc(int(q), int(v)) for v in c_ids])[:checks.K] for q in q_ids}
    pqr = {q: [(int(c_ids[j]), round(adc(q, int(c_ids[j])), 6)) for j in js] for q, js in order.items()}
    ptol = lambda s: 2e-6 + 1e-9 * abs(s)
    expect("pq: ADC top-k", checks.check_scored("pq", pqr, adc, adc_top, ptol, False), False)
    bad = replaced(pqr, q0, [(v, s * 1.01) for v, s in pqr[q0]])
    expect("pq: perturbed scores", checks.check_scored("pq", bad, adc, adc_top, ptol, False), True)
    far = int(c_ids[np.argmax([adc(q0, int(v)) for v in c_ids])])
    swapped = replaced(pqr, q0, pqr[q0][:-1] + [(far, round(adc(q0, far), 6))])
    expect("pq: a far vector returned with its true score",
           checks.check_scored("pq", swapped, adc, adc_top, ptol, False), True)

    docs = checks.read_texts([os.path.join(d, "docs.parquet")], "doc_id")
    qtexts = checks.read_texts([os.path.join(d, "q_text", "part-00000.parquet")], "query_id")
    bscore, btop = checks.bm25_reference(docs, qtexts)
    bm = {}
    for q in qtexts:
        ranked = sorted(((bscore(q, dd), dd) for dd in docs if bscore(q, dd) == bscore(q, dd)),
                        key=lambda x: (-x[0], x[1]))[:checks.K]
        bm[q] = [(dd, s) for s, dd in ranked]
    exact = lambda s: 0
    expect("bm25: reference top-k", checks.check_scored("bm25", bm, bscore, btop, exact, True), False)
    qb = next(iter(bm))
    off = replaced(bm, qb, [(dd, s + 1) if i == 2 else (dd, s) for i, (dd, s) in enumerate(bm[qb])])
    expect("bm25: a score off by one micro", checks.check_scored("bm25", off, bscore, btop, exact, True), True)


def main():
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        tweets()
        kmeans()
        curation()
        index()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print("%d/%d self-test cases behave" % (sum(results), len(results)))
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
