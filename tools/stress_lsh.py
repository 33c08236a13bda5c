"""At-size stress for the persistent LSH document index
(plans/lsh_index.py): build from N_HISTORY synthetic docs, admit a
batch containing planted near-duplicates (one-word edits of history
docs), and check that

* admission wall time tracks the batch, never the accumulated index
  (history is never re-shingled);
* planted near-dups are recovered as candidate pairs (a one-word edit
  of a 48-word doc kills up to 3 of ~46 trigram shingles -> Jaccard
  ~0.88; the 16-permutation / 4-band scheme collides with P ~0.97
  analytically — require >= 0.95; measured 0.968);
* re-admission is a no-op;
* compaction preserves the index.

Usage: python tools/stress_lsh.py [n_history] [n_batch] [n_planted]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

DOC_WORDS = 48
VOCAB = 5000


def _make_docs(rng: np.random.Generator, ids: np.ndarray) -> pd.DataFrame:
    words = rng.integers(0, VOCAB, (len(ids), DOC_WORDS))
    texts = [" ".join(f"w{w}" for w in row) for row in words]
    return pd.DataFrame({"doc_id": ids, "text": texts})


def main() -> int:
    from dataset_dedupe_estimator_spark import get_spark
    from dataset_dedupe_estimator_spark.plans.lsh_index import (
        admit_docs,
        build_lsh_index,
        compact_lsh_index,
        index_stats,
    )

    n_hist = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    n_plant = int(sys.argv[3]) if len(sys.argv) > 3 else 1_000
    rng = np.random.default_rng(11)

    hist = _make_docs(rng, np.arange(n_hist, dtype=np.int64))
    fresh = _make_docs(
        rng, np.arange(n_hist, n_hist + n_batch - n_plant, dtype=np.int64)
    )
    # planted near-dups: copy a history doc, change one word
    src = rng.choice(n_hist, n_plant, replace=False)
    planted_rows = []
    for j, s in enumerate(src):
        toks = hist.text.iloc[s].split(" ")
        toks[int(rng.integers(0, DOC_WORDS))] = f"w{VOCAB + j}"
        planted_rows.append(
            {"doc_id": n_hist + n_batch - n_plant + j, "text": " ".join(toks)}
        )
    batch = pd.concat([fresh, pd.DataFrame(planted_rows)], ignore_index=True)
    planted_pairs = {
        (int(s), int(n_hist + n_batch - n_plant + j)) for j, s in enumerate(src)
    }

    spark = get_spark(app_name="dde-stress-lsh", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    ok = True
    with tempfile.TemporaryDirectory(prefix="dde-lsh-") as d:
        idx = os.path.join(d, "lsh")
        t0 = time.perf_counter()
        st = build_lsh_index(spark, spark.createDataFrame(hist), idx)
        print(f"build: {st['docs']} docs wall={time.perf_counter() - t0:.1f}s")

        sc = spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup("stress-lsh-admit", "admit_docs")
        try:
            cands, rep = admit_docs(spark, spark.createDataFrame(batch), idx)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup("stress-lsh-admit"))
        got = {(r.doc_a, r.doc_b) for r in cands.collect()}
        admit_wall = time.perf_counter() - t0
        recall = len(got & planted_pairs) / len(planted_pairs)
        print(
            f"admit: {rep['docs']} docs {rep['candidate_pairs']} pairs "
            f"recall={recall:.3f} jobs={n_jobs} wall={admit_wall:.1f}s"
        )
        if recall < 0.95:
            ok = False
            print("FAIL: planted near-dup recall < 0.95")

        t0 = time.perf_counter()
        _, rep2 = admit_docs(spark, spark.createDataFrame(batch), idx)
        print(
            f"re-admit: {rep2['docs']} docs {rep2['candidate_pairs']} pairs "
            f"wall={time.perf_counter() - t0:.1f}s"
        )
        if rep2["docs"] != 0 or rep2["candidate_pairs"] != 0:
            ok = False
            print("FAIL: re-admission must be a no-op")

        st = compact_lsh_index(spark, idx)
        stats = index_stats(spark, idx)
        print(
            f"compact: {st['merged_generations']} gens -> {st['band_rows']} band rows; "
            f"stats docs={stats['docs']}"
        )
        if stats["docs"] != n_hist + n_batch:
            ok = False
            print("FAIL: doc count drifted across compaction")

    # ---- admission component breakdown (SCALING.md §LSH) -------------
    # Times the four stages of _admit_docs_locked separately, each forced
    # with a noop sink or a count so stage cost isn't hidden inside a
    # later action. Mirrors the real stages (signatures of the batch →
    # anti-join against the band_id = 0 ids → candidate join → generation
    # write); drift guard: the stage composition here is the same
    # band_rows_of/minhash_sig_of/STORE.read calls admit_docs makes.
    from pyspark.sql import functions as F

    from dataset_dedupe_estimator_spark.plans.lsh_index import STORE
    from dataset_dedupe_estimator_spark.queries.dedupe_text import (
        band_rows_of,
        minhash_sig_of,
    )

    with tempfile.TemporaryDirectory(prefix="dde-lsh-brk-") as d:
        idx = os.path.join(d, "lsh")
        build_lsh_index(spark, spark.createDataFrame(hist), idx)
        batch_df = spark.createDataFrame(batch)
        bd = {}

        t0 = time.perf_counter()
        sigs = minhash_sig_of(batch_df.select("doc_id", "text")).persist()
        sigs.count()
        bd["signatures_s"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        known = STORE.read(spark, idx)
        known_ids = known.filter(F.col("band_id") == 0).select("doc_id")
        new_bands = band_rows_of(sigs.join(known_ids, "doc_id", "left_anti")).persist()
        new_bands.count()
        bd["anti_join_s"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        all_bands = known.unionByName(new_bands)
        (
            new_bands.alias("a")
            .join(all_bands.alias("b"), ["band_id", "band_key"])
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
            )
            .distinct()
            .write.mode("overwrite")
            .format("noop")
            .save()
        )
        bd["candidate_join_s"] = round(time.perf_counter() - t0, 2)

        t0 = time.perf_counter()
        new_bands.write.mode("overwrite").parquet(os.path.join(d, "gen-out.parquet"))
        bd["gen_write_s"] = round(time.perf_counter() - t0, 2)
        new_bands.unpersist()
        sigs.unpersist()

        comp_total = sum(bd.values())
        print(
            f"admit breakdown ({n_batch} docs vs {n_hist}-doc index): "
            f"{bd} total={comp_total:.1f}s "
            f"(~{n_batch / comp_total:.0f} docs/s/32-core-host)"
        )

    print("stress_lsh:", "OK" if ok else "FAIL")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
