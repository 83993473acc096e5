"""Round-18 optimization pins.

The r18 round is plan-shape work only — no query's declared output
changes — so these tests pin (a) the chi²/MI single-row fold at a
cardinality far above the fixture's 5×5 (the r17 verdict's O(cells²)
concern: the map-based fold must stay correct AND affordable when a
categorical grows), and (b) the ADVICE r17 empty-input guard (the
collect_list fold emits 0 rows on an empty cell frame, like the
pre-r17 branch form did).
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def _synthetic_cells(spark, n_seg: int, n_pri: int):
    """Deterministic (seg, pri, c) frame with ~25% structurally
    missing cells so the χ² zero-cell path is exercised."""
    rows = [
        (f"s{i:03d}", f"p{j:03d}", (i * 31 + j * 17) % 97 + 1)
        for i in range(n_seg)
        for j in range(n_pri)
        if (i + j) % 4 != 0  # leave real zero cells
    ]
    return spark.createDataFrame(rows, "seg string, pri string, c long")


def _py_chi2(rows):
    """Literal-formula reference with the engine's sorted float fold."""
    cells = {(s, p): c for s, p, c in rows}
    segs, pris = [], []
    for s, p, _ in rows:  # first-occurrence order, as array_distinct
        if s not in segs:
            segs.append(s)
        if p not in pris:
            pris.append(p)
    rt = {s: sum(c for (s2, _), c in cells.items() if s2 == s) for s in segs}
    ct = {p: sum(c for (_, p2), c in cells.items() if p2 == p) for p in pris}
    n = sum(cells.values())
    terms = []
    for s in segs:
        for p in pris:
            c = cells.get((s, p), 0)
            num = n * c - rt[s] * ct[p]
            terms.append((num * num) / float(n * rt[s] * ct[p]))
    chi2 = 0.0
    for t in sorted(terms):
        chi2 += t
    return n, len(segs), len(pris), chi2


def test_chi2_fold_cardinality_bound(spark):
    """The map-based fold stays bit-exact at 40×30 (1200 cells, 48×
    the fixture table) — the cardinality the r17 filter-per-cell form
    was quadratic in. Build cost is O(cells·(|X|+|Y|)) by
    construction: one transform pass per axis builds the marginal
    maps, one pass builds the nested cell map."""
    from data_pipeline_spark_spark.operators.relational import chi2_fold

    cells = _synthetic_cells(spark, 40, 30)
    got = chi2_fold(cells).collect()
    assert len(got) == 1
    r = got[0]
    rows = [(x.seg, x.pri, x.c) for x in cells.collect()]
    n, nr, nc, chi2 = _py_chi2(rows)
    assert (r.n, r.n_rows, r.n_cols, r.dof) == (n, nr, nc, (nr - 1) * (nc - 1))
    assert r.chi2 == chi2
    assert r.cramers_v == math.sqrt(chi2 / (n * (min(nr, nc) - 1)))


def test_mi_fold_cardinality_bound(spark):
    """Same pin for the MI fold: exact integer micro-nat arithmetic
    reproduced literally in python at 40×30."""
    from data_pipeline_spark_spark.operators.relational import mi_fold

    cells = _synthetic_cells(spark, 40, 30)
    got = mi_fold(cells).collect()
    assert len(got) == 1
    r = got[0]
    rows = [(x.seg, x.pri, x.c) for x in cells.collect()]
    cmap = {(s, p): c for s, p, c in rows}
    segs = list(dict.fromkeys(s for s, _, _ in rows))
    pris = list(dict.fromkeys(p for _, p, _ in rows))
    rt = {s: sum(c for (s2, _), c in cmap.items() if s2 == s) for s in segs}
    ct = {p: sum(c for (_, p2), c in cmap.items() if p2 == p) for p in pris}
    n = sum(cmap.values())

    def mln(v: int) -> int:
        return int(round(math.log(v) * 1e6))

    smi = sum(
        c * (mln(c) + mln(n) - mln(rt[s]) - mln(ct[p]))
        for (s, p), c in cmap.items()
    )
    sx = n * mln(n) - sum(r_ * mln(r_) for r_ in rt.values())
    sy = n * mln(n) - sum(c_ * mln(c_) for c_ in ct.values())
    den = float(n) * 1e6
    assert r.n == n
    assert r.h_seg == sx / den
    assert r.h_pri == sy / den
    assert r.mi_nats == smi / den
    nmi = smi / den / math.sqrt((sx / den) * (sy / den))
    assert r.nmi == nmi


def test_chi2_mi_fold_empty_input(spark):
    """ADVICE r17: the global collect_list fold would emit one
    n=0/null row on an empty cell frame where the pre-r17 branch form
    emitted none — the size(cl) > 0 guard restores 0-row output."""
    from data_pipeline_spark_spark.operators.relational import (
        chi2_fold,
        mi_fold,
    )

    empty = spark.createDataFrame([], "seg string, pri string, c long")
    assert chi2_fold(empty).collect() == []
    assert mi_fold(empty).collect() == []


def test_io_audit_headline_plans():
    """r17 verdict ask #8 (guide §6): every parquet scan in the
    committed headline plan dumps (docs/PLANS.md) either prunes its
    ReadSchema below the table's full width or is a narrow dimension
    table with nothing to prune; the exception list in
    scripts/io_audit.py is empty. No Spark needed — this pins the
    committed plan dumps, which scripts/dump_plans.py regenerates
    after any operator change."""
    import scripts.io_audit as io_audit

    assert io_audit.main() == 0


def test_plan_book_matches_its_generator():
    """docs/PLANS.md holds one `## key` section per entry of
    scripts/dump_plans.py::HEADLINE, in that order, and every key is
    registered — so the audited dump and the list that regenerates
    it cannot drift apart. No Spark needed."""
    import scripts.dump_plans as dump_plans
    import scripts.io_audit as io_audit
    from data_pipeline_spark_spark import registry

    registry.load_all()
    with open(io_audit.PLANS) as fh:
        headings = [ln[3:].strip() for ln in fh if ln.startswith("## ")]
    assert headings == dump_plans.HEADLINE
    assert [k for k in dump_plans.HEADLINE if k not in registry.QUERIES] == []


def test_io_audit_fails_when_no_scan_parses(tmp_path, monkeypatch):
    """A plan dump whose scans the FileScan pattern no longer matches
    (an explain-format change) must fail the audit, not pass it with
    nothing audited."""
    import scripts.io_audit as io_audit

    with open(io_audit.PLANS) as fh:
        drifted = fh.read().replace("FileScan parquet", "FileSourceScan parquet")
    plans = tmp_path / "PLANS.md"
    plans.write_text(drifted)
    monkeypatch.setattr(io_audit, "PLANS", str(plans))
    assert io_audit.main() == 1


def test_bigram_perplexity_single_token_sentinels(spark):
    """The r18 vocabulary rewrite derives V from the count table
    (w1 ∪ non-null w2 + single-token sentinel rows) instead of a
    second corpus explode. Pin the edge cases the sentinel device
    must keep exact: single-token docs still count toward V, docs
    with <2 tokens still emit no scored row, and the add-1-smoothed
    scores match the literal formula."""
    from data_pipeline_spark_spark.operators.text import (
        bigram_perplexity_of,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b"),   # bigrams: (a,b)x2, (b,a)
            (2, "b c"),       # bigrams: (b,c)
            (3, "z"),         # single token: in V, no bigrams
            (4, "a"),         # single token already in V via doc 1
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in bigram_perplexity_of(docs).collect()}
    # docs 3 and 4 have no bigrams -> no row
    assert set(got) == {1, 2}
    # V = {a, b, c, z} = 4 (z only reachable via the sentinel row)
    v = 4
    bc = {("a", "b"): 2, ("b", "a"): 1, ("b", "c"): 1}
    c1 = {"a": 2, "b": 2}

    def lp6(w1: str, w2: str) -> int:
        return int(round(math.log(bc[(w1, w2)] + 1) * 1e6)) - int(
            round(math.log(c1[w1] + v) * 1e6)
        )

    d1 = [lp6("a", "b"), lp6("b", "a"), lp6("a", "b")]
    assert got[1].n_bigrams == 3
    assert got[1].sum_lp6 == sum(d1)
    assert got[1].mean_logprob == sum(d1) / (1e6 * 3)
    assert got[2].n_bigrams == 1
    assert got[2].sum_lp6 == lp6("b", "c")
