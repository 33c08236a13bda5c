"""Persistent inverted text index: BM25 keyword search without a scan.

``queries/text_analysis.bm25_frame`` dissolves BM25 into expressions —
the right shape when the query terms are known at plan time and the
corpus is scanned anyway. A search SERVICE has the opposite access
pattern: the corpus is at rest, queries arrive continuously, and
re-scanning 100 TB of text per query is off the table. The classic
answer is the inverted index, and it maps onto the generation store
this repo's other persistent indexes use (chunk, LSH, PQ, gram —
plans/_genstore.py): log-structured generations over immutable
parquet, an atomically-replaced JSON manifest as the only commit point,
a single-writer lock, O(batch) admission, compaction that advances a
floor.

Layout (``<dir>/``):

* ``gen-<n>/postings/`` — (term, doc_id, tf) parquet PARTITIONED BY
  ``bucket`` = md5(term) % n_buckets: a query with Q terms reads at
  most Q bucket directories per generation (Spark partition pruning),
  never the whole postings set.
* ``gen-<n>/doclens/`` — (doc_id, dl): the per-document token length
  BM25's length normalization needs, a 2-column narrow table.
* ``_text_meta.json`` — n_buckets + tokenizer fingerprint (postings
  from a different tokenizer are incomparable; a mismatched engine
  refuses), generation counter, compaction floor, and the GLOBAL
  corpus statistics (n_docs, sum_dl) maintained incrementally — so
  query-time scoring needs no corpus-wide aggregate at all.

Search reads only: the manifest (N, avgdl), the query terms' bucket
partitions (df + tf per candidate), and the doclens of candidate docs
(an AQE-broadcastable join at steady state). Scoring mirrors
``bm25_frame`` term by term — same expression shapes, fixed-order
fold — so the ``bm25_index_search`` gate entry shares ``bm25_search``'s
DuckDB oracle verbatim: two completely different physical paths, one
bit-identical answer.

Scale shape (100 TB): postings are ~30 bytes/(doc, term); admission
shuffles only the new batch's postings; df counts ride the pruned
bucket scans; nothing corpus-sized moves at query time. The candidate
× doclens join is exchange-free ON THE INDEX SIDE because the
candidate set (docs containing ≥1 query term) broadcasts into the
doclens scan (AQE picks the broadcast-hash join; pinned by a plan
test in tests/test_text_index.py) — the doclens store itself is plain
per-generation parquet, NOT bucketed by doc_id: catalog bucketing
(sources/bucketed.py) cannot survive this layout, since readers union
one doclens dataset per live generation and a union of bucketed
tables loses the bucketing guarantee. The broadcast degrades only
when a stopword-like term makes the candidate set corpus-sized — at
which point a sort-merge join with an exchange on both sides is the
correct plan anyway.

Reference parity note: the reference engine (dedup_estimator.rs) has no
text-search layer; this is part of the beyond-reference training-data
pipeline surface, like plans/lsh_index.py and sources/versioned.py.
"""

from __future__ import annotations

import hashlib
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataset_dedupe_estimator_spark.plans._genstore import GenStore, target_files
from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock
from dataset_dedupe_estimator_spark.plans._tombstones import (
    append_tombstone_set,
    minus_tombstones,
    normalize_ids,
    tombstones_df,
)

STORE = GenStore("_text_meta.json")
DEFAULT_BUCKETS = 32
_TOKENIZER = "whitespace-v1"  # split(text, ' '), the corpus-wide convention


def _corpus_stats(meta: dict) -> tuple[int, float]:
    """(n_docs, avgdl) for BM25 scoring. delete_docs can legitimately
    drive n_docs to 0 (every document tombstoned) — raise a clear
    empty-index error instead of a ZeroDivisionError from avgdl."""
    n = meta["n_docs"]
    if n <= 0:
        raise ValueError(
            "text index holds no live documents (all deleted) — nothing "
            "to score against; admit documents or rebuild the index"
        )
    return n, meta["sum_dl"] / n


def _check_meta(index_dir: str | Path) -> dict:
    meta = STORE.load(index_dir)
    if meta.get("tokenizer") != _TOKENIZER:
        raise ValueError(
            f"text index at {index_dir} was built with tokenizer "
            f"{meta.get('tokenizer')!r}; this engine uses {_TOKENIZER!r} — "
            "postings are incomparable, rebuild the index"
        )
    return meta


def _bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the Spark bucket expression — MUST agree with
    ``_postings_of`` or query-time pruning would read the wrong
    directories (md5-hex-prefix arithmetic is the repo's one
    cross-engine hash discipline)."""
    return int(hashlib.md5(term.encode()).hexdigest()[:8], 16) % n_buckets


def _postings_of(docs: DataFrame, n_buckets: int) -> DataFrame:
    """(bucket, term, doc_id, tf, positions): exact whitespace-token
    frequencies plus the sorted 0-based token positions (what phrase
    search consumes — sort_array makes the collect_list order-safe).
    One explode + one (doc_id, term) aggregate — the only corpus-sized
    shuffle in an index build."""
    toks = F.split(F.col("text"), " ")
    bucket = (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % n_buckets
    ).cast("int")
    return (
        docs.select("doc_id", F.posexplode(toks).alias("pos", "term"))
        .groupBy("doc_id", "term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.sort_array(F.collect_list("pos")).alias("positions"),
        )
        .select(bucket.alias("bucket"), "term", "doc_id", "tf", "positions")
    )


def _doclens_of(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("dl")
    )


def _dedup_batch(docs: DataFrame) -> DataFrame:
    """One row per doc_id WITHIN a batch (deterministic min-text keeper).
    Without this, a duplicate doc_id in one batch — e.g. a streaming
    microbatch spanning two inbox files that both carry the doc — would
    double its tf/positions in _postings_of's (doc_id, term) aggregate,
    write two doclens rows, and inflate the manifest's n_docs/sum_dl;
    the cross-batch anti-join only guards ACROSS admissions."""
    return docs.groupBy("doc_id").agg(F.min("text").alias("text"))


def _write_generation(gen_dir: Path, postings: DataFrame, doclens: DataFrame):
    postings.write.partitionBy("bucket").mode("errorifexists").parquet(
        str(gen_dir / "postings")
    )
    doclens.write.mode("errorifexists").parquet(str(gen_dir / "doclens"))


def _doclens_df(spark: SparkSession, index_dir: str | Path, meta: dict) -> DataFrame:
    return STORE.read(spark, index_dir, meta, "doclens")


def _postings_df(spark: SparkSession, index_dir: str | Path, meta: dict) -> DataFrame:
    """Union of per-generation postings scans (each generation is its own
    bucket-partitioned root)."""
    return STORE.read_each(spark, index_dir, meta, "postings")


def build_text_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str | Path,
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """Create generation 0 from a (doc_id, text) corpus. Fails if the
    dir already holds an index (use admit_docs to grow one)."""
    index_dir = Path(index_dir)
    if STORE.has_manifest(index_dir):
        raise FileExistsError(f"{index_dir} already holds a text index")
    index_dir.mkdir(parents=True, exist_ok=True)
    with writer_lock(index_dir):
        if STORE.has_manifest(index_dir):  # re-check under the lock
            raise FileExistsError(f"{index_dir} already holds a text index")
        STORE.clear(index_dir, None)  # a crashed build's orphans
        gen0 = STORE.gen_path(index_dir, 0)
        docs = _dedup_batch(docs.select("doc_id", "text"))
        _write_generation(gen0, _postings_of(docs, n_buckets), _doclens_of(docs))
        stats = (
            spark.read.parquet(str(gen0 / "doclens"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .collect()[0]
        )
        meta = {
            "tokenizer": _TOKENIZER,
            "n_buckets": n_buckets,
            "generations": 1,
            "compacted_below": 0,
            "n_docs": stats["n"],
            "sum_dl": int(stats["s"] or 0),
            "admissions": [{"gen": 0, "docs": stats["n"]}],
        }
        STORE.commit(index_dir, meta)
    return {"generation": 0, "docs": stats["n"]}


def admit_docs(
    spark: SparkSession, docs: DataFrame, index_dir: str | Path
) -> dict:
    """Admit a (doc_id, text) batch as a new generation. Already-indexed
    doc_ids are skipped (idempotent re-admission; the anti-join reads
    only the narrow committed doclens, never the postings). O(batch):
    the only aggregates run over the admitted generation; corpus totals
    are carried in the manifest."""
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        meta = _check_meta(index_dir)
        gen = meta["generations"]
        STORE.clear(index_dir, meta)
        known = _doclens_df(spark, index_dir, meta).select("doc_id")
        ts = tombstones_df(spark, index_dir, meta, "doc_id")
        if ts is not None:  # tombstoned ids are denylisted, not re-admitted
            known = known.unionByName(ts)
        fresh = _dedup_batch(docs.select("doc_id", "text")).join(
            known, "doc_id", "left_anti"
        )
        gen_dir = STORE.gen_path(index_dir, gen)
        _write_generation(
            gen_dir, _postings_of(fresh, meta["n_buckets"]), _doclens_of(fresh)
        )
        stats = (
            spark.read.parquet(str(gen_dir / "doclens"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .collect()[0]
        )
        if not stats["n"]:
            shutil.rmtree(gen_dir)  # nothing novel: no new generation
            return {"generation": None, "docs": 0, "n_docs": meta["n_docs"]}
        meta["generations"] = gen + 1
        meta["n_docs"] += stats["n"]
        meta["sum_dl"] += int(stats["s"])
        meta["admissions"].append({"gen": gen, "docs": stats["n"]})
        STORE.commit(index_dir, meta)  # commit point
    return {"generation": gen, "docs": stats["n"], "n_docs": meta["n_docs"]}


def delete_docs(spark: SparkSession, index_dir: str | Path, ids) -> dict:
    """Delete documents (takedown / right-to-be-forgotten): append a
    tombstone set and decrement the manifest's corpus stats by the
    deleted docs' doclens — so every later search scores with the
    post-delete N and avgdl and is BIT-IDENTICAL to an index rebuilt
    without the deleted docs (pinned by test). ``ids`` is an iterable
    of doc_ids or a one-column DataFrame.

    Tombstoned ids are denylisted: suppressed from search/phrase/batch
    reads AND skipped by admission until a compaction physically purges
    their postings and clears the sets (after which the id is unknown
    and admissible again). Deleting an id the index never held just
    denylists it; re-deleting is a no-op. O(tombstones + matched
    doclens), never O(index): no generation is rewritten here.
    """
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        meta = _check_meta(index_dir)
        ids_df = normalize_ids(spark, ids, "doc_id")
        fresh = append_tombstone_set(spark, index_dir, meta, ids_df, "doc_id")
        if fresh is None:  # everything already tombstoned — no commit
            return {"deleted": 0, "denylisted": 0, "n_docs": meta["n_docs"]}
        # stats of the ids actually LIVE in the index (fresh minus prior
        # tombstones is already guaranteed; intersect with doclens)
        matched = (
            _doclens_df(spark, index_dir, meta)
            .join(fresh, "doc_id", "left_semi")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("dl").alias("s"))
            .collect()[0]
        )
        n_new = fresh.count()
        meta["n_docs"] -= matched["n"]
        meta["sum_dl"] -= int(matched["s"] or 0)
        meta.setdefault("deletions", []).append(
            {"set": meta["tombstone_sets"] - 1, "docs": matched["n"],
             "denylisted": n_new}
        )
        STORE.commit(index_dir, meta)  # commit point
    return {
        "deleted": matched["n"],
        "denylisted": n_new,
        "n_docs": meta["n_docs"],
    }



# Above this bound the candidate set is pinned to a sort-merge join
# against the doclens store instead of the steady-state broadcast
# (~50 bytes/candidate row: 200k candidates ~ Spark's default 10 MB
# autoBroadcastJoinThreshold).
_SMJ_CANDIDATE_BOUND = 200_000


def _join_doclens(cand: DataFrame, dl: DataFrame, cand_bound: int) -> DataFrame:
    """candidates x doclens. At steady state the candidate side is tiny
    and AQE turns the join into a broadcast (pinned by plan test). A
    stopword-like term makes the candidate set corpus-sized, where a
    broadcast would ship ~the whole doc universe to every task; the
    per-term dfs ALREADY collected for scoring bound the candidate
    count at zero extra cost, so above the threshold the sort-merge
    plan is pinned up front instead of betting on a runtime estimate.
    Result rows are identical either way (pinned by test)."""
    if cand_bound > _SMJ_CANDIDATE_BOUND:
        return cand.hint("merge").join(dl, "doc_id")
    return cand.join(dl, "doc_id")


def search(
    spark: SparkSession,
    index_dir: str | Path,
    terms: tuple[str, ...] | list[str],
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """BM25 top-k for ``terms`` from the index alone — no corpus scan.

    Reads: the manifest (N, avgdl — maintained incrementally, so no
    corpus aggregate), then ONE pass over the query terms' bucket
    partitions for both per-term document frequencies and the candidate
    (doc_id, term, tf) rows, then the candidates' doclens. Scoring
    mirrors ``bm25_frame`` expression-for-expression with the corpus
    stats inlined as literals and a fixed term-order fold, so the
    result is bit-identical to the scan-based path (the
    ``bm25_index_search`` gate entry shares ``bm25_search``'s oracle).
    Returns (doc_id, n_terms, score), ties broken by doc_id.
    """
    terms = list(terms)
    if not terms:
        raise ValueError("search needs at least one term")
    meta = _check_meta(index_dir)
    n_docs, avgdl = _corpus_stats(meta)
    buckets = sorted({_bucket_py(t, meta["n_buckets"]) for t in terms})
    hits = minus_tombstones(
        _postings_df(spark, index_dir, meta)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(terms))
        .select("term", "doc_id", "tf"),
        tombstones_df(spark, index_dir, meta, "doc_id"),
        "doc_id",
    )
    # dfs and candidates run as two jobs over the SAME committed
    # generation paths (meta was read once; gen dirs are immutable), so
    # no checkpoint is needed — and a per-query localCheckpoint would
    # leak cached blocks for the life of the session in a search service.
    # Reader contract (same as every index here): a query racing an
    # administrative COMPACTION may fail loudly with a missing-file
    # error once the superseded dirs are removed — retry the query; it
    # can never return wrong rows
    dfs = {r["term"]: r["n"] for r in hits.groupBy("term").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    cand = hits.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(F.lit(0)))
            .cast("long")
            .alias(f"tf{i}")
            for i, t in enumerate(terms)
        ]
    )
    dl = _doclens_df(spark, index_dir, meta)
    scored = _join_doclens(cand, dl, sum(dfs.values()))

    def comp(i):
        tf = F.col(f"tf{i}")
        df_i = dfs.get(terms[i], 0)
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - F.lit(df_i) + F.lit(0.5)) / (F.lit(df_i) + F.lit(0.5))
        )
        raw = (
            idf
            * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
        )
        return F.when(tf > 0, raw).otherwise(F.lit(0.0))

    score = comp(0)
    for i in range(1, len(terms)):
        score = score + comp(i)
    n_terms = F.col("tf0") > 0
    n_terms = n_terms.cast("long")
    for i in range(1, len(terms)):
        n_terms = n_terms + (F.col(f"tf{i}") > 0).cast("long")
    return (
        scored.select(
            "doc_id",
            n_terms.alias("n_terms"),
            F.round(score, 4).alias("score"),
        )
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(top)
    )


def search_many(
    spark: SparkSession,
    index_dir: str | Path,
    queries: dict[str, tuple[str, ...] | list[str]],
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 20,
) -> DataFrame:
    """Batch BM25: score MANY queries in one Spark job — the offline
    shape (eval-set retrieval, distillation mining, dedup-by-query
    sweeps) where per-query job overhead would dominate.

    Returns (query_id, doc_id, n_terms, score) with each query's
    top-``top`` rows, ranked exactly like :func:`search` (ties by
    doc_id). One pruned pass over the union of all queries' bucket
    partitions serves every query: term rows fan out to the queries
    containing them via a broadcast (query_id, term) table, per-doc tf
    vectors build per query, and the final top-k is a per-query rank
    window over candidates only. Per-query results are IDENTICAL to
    ``search`` (same expression shapes, same fixed term-order fold) —
    pinned by test.
    """
    from pyspark.sql.window import Window

    if not queries:
        raise ValueError("search_many needs at least one query")
    for qid, terms in queries.items():
        if not terms:
            raise ValueError(f"query {qid!r} has no terms")
    meta = _check_meta(index_dir)
    n_docs, avgdl = _corpus_stats(meta)
    all_terms = sorted({t for ts in queries.values() for t in ts})
    buckets = sorted({_bucket_py(t, meta["n_buckets"]) for t in all_terms})
    hits = minus_tombstones(
        _postings_df(spark, index_dir, meta)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(all_terms))
        .select("term", "doc_id", "tf"),
        tombstones_df(spark, index_dir, meta, "doc_id"),
        "doc_id",
    )
    # two jobs over the same immutable generation paths (see search());
    # no per-call checkpoint — it would leak cache in a query service
    dfs = {
        r["term"]: r["n"]
        for r in hits.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # (query_id, term, slot) — slot is the term's position in ITS query,
    # so the fold order per query matches search()'s term order exactly
    qrows = [
        (qid, t, j) for qid, ts in queries.items() for j, t in enumerate(ts)
    ]
    qdf = spark.createDataFrame(qrows, "query_id string, term string, slot int")
    max_slots = max(len(ts) for ts in queries.values())
    cand = (
        hits.join(F.broadcast(qdf), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            *[
                F.sum(F.when(F.col("slot") == j, F.col("tf")).otherwise(F.lit(0)))
                .cast("long")
                .alias(f"tf{j}")
                for j in range(max_slots)
            ],
            # per-slot df of THIS query's term (constant within a group)
            *[
                F.max(
                    F.when(F.col("slot") == j, F.col("term"))
                ).alias(f"term{j}")
                for j in range(max_slots)
            ],
        )
    )
    dl = _doclens_df(spark, index_dir, meta)
    scored = _join_doclens(cand, dl, sum(dfs.values()))

    df_map = F.create_map(
        *[x for t in all_terms for x in (F.lit(t), F.lit(dfs.get(t, 0)))]
    )

    def comp(j):
        tf = F.col(f"tf{j}")
        df_j = F.coalesce(df_map[F.col(f"term{j}")], F.lit(0))
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n_docs) - df_j + F.lit(0.5)) / (df_j + F.lit(0.5))
        )
        raw = (
            idf
            * (tf * F.lit(k1 + 1.0))
            / (tf + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl)))
        )
        return F.when(tf > 0, raw).otherwise(F.lit(0.0))

    score = comp(0)
    for j in range(1, max_slots):
        score = score + comp(j)
    n_terms = (F.col("tf0") > 0).cast("long")
    for j in range(1, max_slots):
        n_terms = n_terms + (F.col(f"tf{j}") > 0).cast("long")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.select(
            "query_id",
            "doc_id",
            n_terms.alias("n_terms"),
            F.round(score, 4).alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top)
        .drop("rn")
    )


def phrase_search(
    spark: SparkSession,
    index_dir: str | Path,
    phrase: tuple[str, ...] | list[str],
    top: int = 20,
) -> DataFrame:
    """Exact-phrase occurrence count from the index alone: documents
    containing the tokens of ``phrase`` CONSECUTIVELY, ranked by
    occurrence count (ties by doc_id). The positional twin of
    :func:`search` — BM25 is bag-of-words; retrieving an exact quoted
    passage (or counting how often a boilerplate sentence repeats)
    needs token positions, which the postings carry per (term, doc).

    Reads the phrase terms' bucket partitions only; per candidate doc
    the consecutive-run count is a pure array expression over the
    per-term position lists: |{p in pos(t0) : p+j in pos(tj) for all
    j}| — no re-tokenization, no corpus scan, document text never read.
    """
    phrase = list(phrase)
    if not phrase:
        raise ValueError("phrase_search needs at least one term")
    meta = _check_meta(index_dir)
    buckets = sorted({_bucket_py(t, meta["n_buckets"]) for t in phrase})
    hits = minus_tombstones(
        _postings_df(spark, index_dir, meta)
        .filter(F.col("bucket").isin(buckets) & F.col("term").isin(phrase))
        .select("term", "doc_id", "positions"),
        tombstones_df(spark, index_dir, meta, "doc_id"),
        "doc_id",
    )
    cand = hits.groupBy("doc_id").agg(
        *[
            F.first(F.when(F.col("term") == t, F.col("positions")), ignorenulls=True)
            .alias(f"pos{j}")
            for j, t in enumerate(phrase)
        ]
    )
    for j in range(len(phrase)):
        cand = cand.filter(F.col(f"pos{j}").isNotNull())

    def starts_run(p):
        cond = F.lit(True)
        for j in range(1, len(phrase)):
            cond = cond & F.array_contains(F.col(f"pos{j}"), p + j)
        return cond

    n_occ = F.size(F.filter(F.col("pos0"), starts_run)).cast("long")
    return (
        cand.select("doc_id", n_occ.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
        .orderBy(F.col("n_occurrences").desc(), "doc_id")
        .limit(top)
    )


def compact_text_index(spark: SparkSession, index_dir: str | Path) -> dict:
    """Merge every live generation into ONE (fewer files per bucket,
    one doclens dataset), PHYSICALLY PURGING tombstoned docs, commit by
    advancing ``compacted_below`` (the same manifest write zeroes the
    tombstone counter), then remove the superseded dirs and the
    tombstone sets. Live totals are unchanged — compaction moves rows
    and drops only what deletion already removed from every read."""
    index_dir = Path(index_dir)
    with writer_lock(index_dir):
        meta = _check_meta(index_dir)
        gen = meta["generations"]
        STORE.clear(index_dir, meta)
        live = STORE.live(index_dir, meta)
        ts = tombstones_df(spark, index_dir, meta, "doc_id")
        merged_p = minus_tombstones(
            _postings_df(spark, index_dir, meta), ts, "doc_id"
        )
        merged_d = minus_tombstones(
            _doclens_df(spark, index_dir, meta), ts, "doc_id"
        )
        # Size the compacted write by merged bytes (plans/_genstore.py).
        # Hashing on (bucket, term) — not bucket alone — spreads a hot
        # bucket across tasks while still landing each term's postings
        # in one file of its bucket dir (partitionBy lays out the dirs).
        n_post = target_files([g / "postings" for g in live])
        n_dl = target_files([g / "doclens" for g in live])
        out = STORE.gen_path(index_dir, gen)
        _write_generation(
            out,
            merged_p.repartition(n_post, "bucket", "term").select(
                "bucket", "term", "doc_id", "tf", "positions"
            ),
            # repartition, not coalesce: coalesce can only REDUCE the
            # read's partition count, and a small multi-gen doclens
            # union may arrive as one packed partition — the shuffle
            # moves only the narrow (doc_id, dl) rows, negligible next
            # to the postings rewrite it rides alongside
            merged_d.repartition(n_dl),
        )
        n_rows = spark.read.parquet(str(out / "doclens")).count()
        if n_rows != meta["n_docs"]:
            shutil.rmtree(out)
            raise RuntimeError(
                f"compaction row-count mismatch: merged {n_rows} docs, "
                f"manifest says {meta['n_docs']} — refusing to commit"
            )
        STORE.commit_compaction(index_dir, meta, gen)
    return {"generation": gen, "merged_generations": len(live), "docs": n_rows}


def index_stats(index_dir: str | Path) -> dict:
    """One-row summary from the manifest alone (no data read)."""
    meta = _check_meta(index_dir)
    return {
        "n_docs": meta["n_docs"],
        "sum_dl": meta["sum_dl"],
        "generations": meta["generations"],
        "compacted_below": meta["compacted_below"],
        "n_buckets": meta["n_buckets"],
        "tombstone_sets": meta.get("tombstone_sets", 0),
    }
