#!/usr/bin/env python
"""Measure how headline queries scale across the fixture SFs.

Times each probe query at sf0.001 / sf0.01 / sf0.1 (untimed warm-up,
best of 3) and prints per-query wall times plus the 0.01→0.1 ratio —
the observable that separates Spark's fixed scheduling floor from the
data-proportional part. A query whose time grows far slower than the
10× data factor is floor-dominated (the floor amortizes away at
cluster scale); one growing ≥10× has a super-linear stage that will
NOT survive a 100× scale-up and must be fixed.

    python scripts/scaling_probe.py [key ...]
    python scripts/scaling_probe.py --dense

--dense probes the PAIR rungs (dedup_ngram_jaccard,
dedup_containment) against synthetically densified documents
corpora: every sf0.1 document is replicated ×2/×3/×5 as near-
duplicates (a per-copy tail token keeps Jaccard ≈0.9, not 1.0), so
the TRUE-pair count grows quadratically in the factor while corpus
bytes grow linearly. The observable: wall time tracking the
~linear corpus size, NOT the quadratic pair bound, is direct
evidence that the prefix filter + size band + df-cap hold the
quadratic term — the property that decides whether the rung
survives a dense real-world corpus.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipeline_spark_spark import registry  # noqa: E402
from data_pipeline_spark_spark.session import get_spark  # noqa: E402

SFS = ["0.001", "0.01", "0.1"]

#: data-proportional representatives (floor-dominated lookups like
#: join_broadcast are pointless to probe — they measure the scheduler)
DEFAULT_PROBES = [
    "filter_pred",
    "agg_basic",
    "join_inner_equi",
    "window_analytic",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_span_exact",
    "keyword_search_bm25",
    "quality_unigram_logprob",
    "basket_pair_affinity",
    "sim_search_pq",
    "repetition_stats",
    "tpch_q18_large_orders",
    "tpch_q1_pricing_summary",
    "corpus_duplication_profile",
]


def best_of(fn, runs: int | None = None) -> float:
    if runs is None:
        runs = int(os.environ.get("PROBE_RUNS", "3"))
    fn()  # warm-up: Janino compile + C2 JIT
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0)
    return best


DENSE_FACTORS = [1, 2, 3, 5]
DENSE_PROBES = ["dedup_ngram_jaccard", "dedup_containment"]


def _dense_dir(spark, factor: int) -> str:
    """Write (once) a documents corpus where every sf0.1 doc appears
    ``factor`` times as a near-duplicate. doc_ids stay unique via a
    per-copy offset above the real id range."""
    import tempfile

    from pyspark.sql import functions as F

    from data_pipeline_spark_spark.catalog import load

    import shutil

    out = os.path.join(tempfile.gettempdir(), f"dps_dense_docs_x{factor}")
    target = os.path.join(out, "documents.parquet")
    # _SUCCESS, not isdir: an interrupted write leaves a partial dir
    # that a bare existence check would silently reuse, and the
    # truncated corpus would fabricate the growth ratios this probe
    # exists to measure
    if os.path.exists(os.path.join(target, "_SUCCESS")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    docs = load(spark, "/root/testdata/sf0.1", "documents")
    offset = 10_000_000
    copies = [
        docs.select(
            (F.col("doc_id") + i * offset).alias("doc_id"),
            # a short unique tail per copy: copies are ~0.9-Jaccard
            # near-dups of each other, not byte-exact duplicates
            F.concat(F.col("text"), F.lit(f" densecopy tail{i}")).alias(
                "text"
            )
            if i
            else F.col("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(factor)
    ]
    union = copies[0]
    for c in copies[1:]:
        union = union.unionByName(c)
    union.write.mode("overwrite").parquet(target)
    return out


def dense_main(probe_keys: list[str] | None = None) -> None:
    registry.load_all()
    spark = get_spark("scaling-probe-dense")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name, d):
        df = registry.QUERIES[name](spark, d)
        df.write.format("noop").mode("overwrite").save()

    dirs = {f: _dense_dir(spark, f) for f in DENSE_FACTORS}
    # interpretation: replicating every doc ×f makes the TRUE-pair
    # output itself grow ~quadratically in f (C(f,2) pairs per doc
    # group — irreducible work for ANY exact algorithm), while naive
    # all-pairs candidate generation would grow with the squared
    # corpus. A healthy filter stack shows time growth well BELOW
    # output growth (per-pair cost amortized, no candidate blowup
    # beyond the output); a broken one tracks the all-pairs bound.
    print(
        f"{'query':22s} "
        + " ".join(f"x{f}:sec/pairs " for f in DENSE_FACTORS)
        + " t-growth out-growth"
    )
    for name in probe_keys or DENSE_PROBES:
        times, pairs = [], []
        for f in DENSE_FACTORS:
            times.append(best_of(lambda: run(name, dirs[f])))
            pairs.append(registry.QUERIES[name](spark, dirs[f]).count())
        tg = times[-1] / times[0] if times[0] > 0 else float("inf")
        og = pairs[-1] / pairs[0] if pairs[0] > 0 else float("inf")
        cells = " ".join(
            f"{t:5.2f}/{p:<7d}" for t, p in zip(times, pairs)
        )
        verdict = "OK (sub-output)" if tg <= og else "CANDIDATE BLOWUP?!"
        print(f"{name:22s} {cells}  {tg:5.1f}x {og:6.1f}x  {verdict}")


#: the third-decade probe set (r11 VERDICT ask #5): the families
#: whose growth factors decide 100 TB credibility, plus relational
#: representatives — run with --sf1 after scripts/make_sf1.py
SF1_PROBES = [
    "filter_pred",
    "agg_basic",
    "join_inner_equi",
    "window_analytic",
    "tpch_q1_pricing_summary",
    "tpch_q18_large_orders",
    "dedup_exact",
    "dedup_minhash_df",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "dedup_span_exact",
    "sim_search",
    "sim_search_pq",
    "sim_search_ivfpq",
    "keyword_search_bm25",
    "quality_unigram_logprob",
    "quality_bigram_perplexity",
    "tokenizer_unigram_segment",
    "corpus_duplication_profile",
    "shard_pack",
    "corpus_pack_sequences",
    "corpus_pack_apply",
]


def sf1_main(probe_keys: list[str] | None) -> None:
    """Probe sf0.01 → sf0.1 → sf1(/tmp replica decade): two decade
    ratios per key. A key whose 0.1→1 factor stays ≤ its 0.01→0.1
    factor is floor-dominated or linear; a factor that JUMPS decade
    over decade is super-linear growth emerging from under the floor
    and needs a plan fix or an explanation."""
    from make_sf1 import build

    registry.load_all()
    spark = get_spark("scaling-probe-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    sf1_dir = build(spark)
    dirs = ["/root/testdata/sf0.01", "/root/testdata/sf0.1", sf1_dir]

    def run(name, d):
        df = registry.QUERIES[name](spark, d)
        df.write.format("noop").mode("overwrite").save()

    print(
        f"{'query':28s} {'sf0.01':>7s} {'sf0.1':>7s} {'sf1':>7s}"
        "   x(0.01→0.1) x(0.1→1)"
    )
    for name in probe_keys or SF1_PROBES:
        times = [best_of(lambda: run(name, d)) for d in dirs]
        r1 = times[1] / times[0] if times[0] > 0 else float("inf")
        r2 = times[2] / times[1] if times[1] > 0 else float("inf")
        cells = " ".join(f"{t:7.3f}" for t in times)
        print(f"{name:28s} {cells}   {r1:8.2f}x {r2:7.2f}x", flush=True)


def main() -> None:
    args = sys.argv[1:]
    if "--dense" in args:
        keys = [a for a in args if a != "--dense"]
        dense_main(keys or None)
        return
    if "--sf1" in args:
        keys = [a for a in args if a != "--sf1" and a != "--full"]
        if "--full" in args and not keys:
            # every plan-book headline key gets its two decade slopes
            from scripts.dump_plans import HEADLINE

            keys = list(HEADLINE)
        sf1_main(keys or None)
        return
    probes = args or DEFAULT_PROBES
    registry.load_all()
    spark = get_spark("scaling-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name, sf):
        df = registry.QUERIES[name](spark, f"/root/testdata/sf{sf}")
        df.write.format("noop").mode("overwrite").save()

    header = f"{'query':28s} " + " ".join(f"sf{sf:>6s}" for sf in SFS)
    print(header + "   x(0.01→0.1)")
    for name in probes:
        times = [best_of(lambda: run(name, sf)) for sf in SFS]
        ratio = times[2] / times[1] if times[1] > 0 else float("inf")
        cells = " ".join(f"{t:7.3f}" for t in times)
        print(f"{name:28s} {cells}   {ratio:5.2f}x")


if __name__ == "__main__":
    main()
