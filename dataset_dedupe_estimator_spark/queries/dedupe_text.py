"""Document deduplication operators over the ``documents`` table —
the LLM-training-data extension of the reference's chunk-dedup core
(north star, BASELINE.json): exact dedup, normalized-fingerprint dedup,
n-gram Jaccard near-dup, MinHash+LSH candidates, SimHash signatures.

Hash discipline: every hash is ``md5`` (hex string) — the one hash both
Spark and DuckDB implement identically — so every operator is fully
oracle-checkable. Engine users can swap in xxhash64 for speed (the hash
role is identical; SURVEY §2.2 C2).

Scale notes (100 TB):
- exact dedup: single shuffle on the 32-char digest, AQE-coalesced.
- MinHash: shingle explosion stays columnar (sequence/transform before
  explode); the 16 min() aggs collapse to one row per doc before any join;
  LSH band self-join shuffles only (band_id, band_key, doc_id) triples.
- pairwise Jaccard is intentionally quadratic-per-bucket — at scale you run
  it AFTER LSH banding (candidates only), which is exactly how the
  ``minhash_lsh_candidates`` → ``ngram_jaccard_pairs`` pair composes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from dataset_dedupe_estimator_spark.queries.base import Q, load

N_MINHASH = 16
N_BANDS = 4  # 4 rows per band
SHINGLE_W = 3  # word-trigram shingles


def tokens_col(c="text"):
    return F.split(F.col(c), " ")


def shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) — distinct word-trigram shingles from ANY
    (doc_id, text) DataFrame (composition building block: the persistent
    LSH index admits arbitrary batches, not just the test table).

    Tokens are materialized in their own projection first: referencing the
    split() expression inside the transform() lambda would re-evaluate the
    split per element access (no common-subexpression elimination across
    lambda scopes) — a ~10x slowdown measured at sf0.1.
    """
    spark = docs.sparkSession
    # small input files arrive as one partition; shingling is CPU-bound, so
    # spread docs across the cluster before the expensive projection.
    # r14 guard (§2.5): only when the scan has fewer splits than cores —
    # a 100 TB table arrives with thousands of splits and the old
    # unconditional repartition would have COALESCED it to core count
    par = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < par:
        docs = docs.repartition(par, "doc_id")
    toks = docs.select("doc_id", tokens_col().alias("t"))
    t = F.col("t")
    n = F.size(t)
    sh = F.when(
        n >= SHINGLE_W,
        F.transform(
            F.sequence(F.lit(0), n - SHINGLE_W),
            lambda i: F.concat_ws(" ", t[i], t[i + 1], t[i + 2]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select("doc_id", F.explode(F.array_distinct(sh)).alias("shingle"))


def shingles_df(spark, sf) -> DataFrame:
    """(doc_id, shingle) over the test ``documents`` table."""
    return shingles_of(load(spark, sf, "documents"))


SHINGLES_CTE = f"""
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
shingles AS (
  SELECT DISTINCT doc_id, shingle
  FROM toks, UNNEST(list_transform(
      generate_series(1, greatest(len(t) - {SHINGLE_W - 1}, 0)),
      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS u(shingle)
)
"""


def dedup_exact_groups(spark, sf):
    """Exact duplicate groups by full-text digest (hash-groupBy dedup)."""
    docs = load(spark, sf, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("text_hash")
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS text_hash, COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY text_hash
"""


def dup_cluster_sizes(spark, sf):
    """Duplicate-cluster size histogram — the one-page answer to "how
    duplicated is this corpus?": for each exact-dup group size, how many
    groups and how many documents. Singletons (size 1) are included so
    the doc counts sum to the corpus; the removable-docs column is what
    keep-one dedup would delete. Two digest-only hash aggregates — the
    second over at most |distinct sizes| rows — nothing else shuffles."""
    docs = load(spark, sf, "documents")
    groups = (
        docs.select(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("group_size"))
    )
    return (
        groups.groupBy("group_size")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .select(
            "group_size",
            "n_groups",
            (F.col("group_size") * F.col("n_groups")).alias("n_docs"),
            ((F.col("group_size") - 1) * F.col("n_groups")).alias("removable_docs"),
        )
        .orderBy("group_size")
    )


DUP_CLUSTER_SIZES_SQL = """
WITH groups AS (
  SELECT md5(text) AS text_hash, COUNT(*) AS group_size
  FROM documents GROUP BY 1
)
SELECT group_size, COUNT(*) AS n_groups,
       group_size * COUNT(*) AS n_docs,
       (group_size - 1) * COUNT(*) AS removable_docs
FROM groups GROUP BY group_size ORDER BY group_size
"""


def dedup_fingerprint_groups(spark, sf):
    """Near-exact dedup on a normalized fingerprint: md5 of the sorted
    distinct token set (bag-of-words identity — robust to word order)."""
    docs = load(spark, sf, "documents")
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(tokens_col())), " ").cast("binary")
    )
    return (
        docs.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
        .orderBy("fingerprint")
    )


DEDUP_FP_SQL = """
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fingerprint,
       COUNT(*) AS n_docs, MIN(doc_id) AS keeper_doc_id
FROM documents GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY fingerprint
"""


def dedup_keep_first(spark, sf):
    """Survivor set after exact dedup: first doc_id per text hash wins
    (reference first-writer-wins provenance, src/store.rs:121-126).

    r13: the row_number window became a MIN aggregate — same survivors
    (rn=1 ordered by doc_id IS the group minimum), but the aggregate
    does partial, map-side reduction so the exchange carries one row per
    digest instead of every row, and the per-partition sort the window
    needed disappears (§2.3 "aggregate before you shuffle")."""
    docs = load(spark, sf, "documents")
    return (
        docs.select(F.md5(F.col("text").cast("binary")).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
        .orderBy("doc_id")
    )


DEDUP_KEEP_FIRST_SQL = """
SELECT doc_id FROM (
  SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1 ORDER BY doc_id
"""


def ngram_jaccard_pairs(spark, sf):
    """Pairwise n-gram Jaccard similarity (shingle-intersection join).

    Exact integer intersection/union counts → deterministic double ratio.
    """
    sh = shingles_df(spark, sf)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("n_inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("doc_a", "doc_b")
    )


NGRAM_JACCARD_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(n_inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.5
ORDER BY doc_a, doc_b
"""


MH_P = 2147483647  # 2^31 - 1 (Mersenne prime)
import numpy as _np

_mh_rng = _np.random.default_rng(20260813)
MH_A = [int(x) for x in _mh_rng.integers(1, MH_P, N_MINHASH)]
MH_B = [int(x) for x in _mh_rng.integers(0, MH_P, N_MINHASH)]



CONTAIN_T = 0.6  # report pairs where the smaller doc is ≥60% contained


def ngram_containment_pairs(spark, sf):
    """Asymmetric containment: |A∩B| / min(|A|, |B|) over shingle sets.

    Jaccard under-scores a short document embedded in a long one (the
    quote / excerpt / wrapped-repost case): a 50-shingle doc fully
    inside a 1000-shingle doc has Jaccard ≈ 0.05 but containment 1.0.
    Reports pairs whose smaller side is ≥ CONTAIN_T contained, with
    both the containment and the Jaccard for contrast. Exact integer
    counts → deterministic ratios; same single shingle-equi-join shape
    as the Jaccard query (never all-pairs).
    """
    sh = shingles_df(spark, sf)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, F.col("a.shingle") == F.col("b.shingle"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    containment = F.col("n_inter").cast("double") / F.least("size_a", "size_b").cast(
        "double"
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("n_inter")
    ).cast("double")
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(containment, 4).alias("containment"),
            F.round(jac, 4).alias("jaccard"),
        )
        .filter(F.col("containment") >= CONTAIN_T)
        .orderBy("doc_a", "doc_b")
    )


NGRAM_CONTAINMENT_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / CAST(LEAST(sa.n_shingles, sb.n_shingles) AS DOUBLE), 4) AS containment,
       ROUND(CAST(n_inter AS DOUBLE) / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / CAST(LEAST(sa.n_shingles, sb.n_shingles) AS DOUBLE) >= {CONTAIN_T}
ORDER BY doc_a, doc_b
"""


def _minhash_sig_fn(it):
    """Arrow-batched whole-document MinHash: tokenize, shingle, md5-base
    and the {N_MINHASH} affine minima in ONE kernel pass per doc.

    Value-identical to the declarative plan by construction, edge for
    edge (pinned by test_minhash_kernel_parity + the DuckDB oracle):

    - tokens: ``text.split(" ")`` — Python's literal-space split keeps
      leading/consecutive/trailing empty strings exactly like Spark's
      ``split(text, ' ')`` (Java regex split, limit -1) and DuckDB's
      ``string_split``;
    - shingles: word trigrams joined with one space (``concat_ws``),
      DISTINCT per doc (set — order irrelevant under min), docs with
      fewer than {SHINGLE_W} tokens (or NULL text) emit nothing and are
      absent from the output, exactly like the explode of an empty array;
    - base hash: first 4 md5 bytes of the UTF-8 shingle, big-endian
      (== the hex-prefix ``conv(substring(md5(...), 1, 8), 16, 10)``),
      mod {MH_P};
    - permutations: ``(a_i * base + b_i) % {MH_P}`` in int64 (products
      < 2^62 — no overflow), column-wise min over the doc's shingles.

    Why a kernel (§4.2, §2.3): the declarative plan explodes ~10M
    (doc, shingle) rows at sf1 through an interpreted higher-order
    transform lambda, evaluates md5+conv+16 muls per row, then shuffles
    the partial minima; here the only per-shingle JVM work disappears,
    nothing explodes, and each doc leaves the kernel as ONE 17-int row
    — the signature aggregate's exchange vanishes from the plan.

    The per-doc loop runs in C (``operators/native.py``
    ``minhash_sigs``, the same md5 in a C copy) when the native library
    is available, and in Python (:func:`_minhash_sigs_py`) otherwise;
    both give the same signatures."""
    import pyarrow as pa

    from dataset_dedupe_estimator_spark.operators import native

    use_native = native.available()
    for batch in it:
        idx = {n: i for i, n in enumerate(batch.schema.names)}
        texts = batch.column(idx["text"])
        if use_native:
            keep, sig_m = native.minhash_sigs(texts, MH_A, MH_B, MH_P)
        else:
            keep, sig_m = _minhash_sigs_py(texts.to_pylist())
        keep_arr = pa.array(keep, pa.bool_())
        sig_m = sig_m[keep]
        yield pa.RecordBatch.from_arrays(
            [batch.column(idx["doc_id"]).cast(pa.int64()).filter(keep_arr)]
            + [pa.array(sig_m[:, i], pa.int64()) for i in range(N_MINHASH)],
            names=["doc_id"] + [f"m{i}" for i in range(N_MINHASH)],
        )


def _minhash_sigs_py(texts: list) -> tuple:
    """Pure-Python fallback of the native ``minhash_sigs``: ``(keep,
    sigs)``, a bool mask of the docs with a signature and their
    (len(texts), N_MINHASH) minima (rows not kept are zero)."""
    import numpy as np
    from hashlib import md5

    A = np.asarray(MH_A, dtype=np.int64)[None, :]
    B = np.asarray(MH_B, dtype=np.int64)[None, :]
    keep = np.zeros(len(texts), dtype=bool)
    sig_m = np.zeros((len(texts), N_MINHASH), dtype=np.int64)
    for d, text in enumerate(texts):
        if text is None:
            continue
        t = text.split(" ")
        n = len(t)
        if n < SHINGLE_W:
            continue
        seen = {
            t[i] + " " + t[i + 1] + " " + t[i + 2]
            for i in range(n - SHINGLE_W + 1)
        }
        bases = np.fromiter(
            (
                int.from_bytes(md5(s.encode("utf-8")).digest()[:4], "big") % MH_P
                for s in seen
            ),
            dtype=np.int64,
            count=len(seen),
        )
        sig_m[d] = ((bases[:, None] * A + B) % MH_P).min(axis=0)
        keep[d] = True
    return keep, sig_m


def minhash_sig_of(docs: DataFrame) -> DataFrame:
    """Unsorted (doc_id, m0..m15) signature plan from ANY (doc_id, text)
    DataFrame — composition building block for the banding query and the
    persistent LSH index. r14: one Arrow kernel per doc batch
    (`_minhash_sig_fn`) instead of explode → md5 → 16 affine columns →
    min-aggregate; the signature shuffle is gone (each doc appears in
    exactly one input row, so the signature is complete per batch).
    Spread guard as in maybe_spread: hash-repartition only when the scan
    arrives with fewer splits than cores — a 100 TB table must never be
    coalesced to core count."""
    spark = docs.sparkSession
    src = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    par = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < par:
        src = src.repartition(par, "doc_id")
    schema = "doc_id long, " + ", ".join(
        f"m{i} long" for i in range(N_MINHASH)
    )
    return src.mapInArrow(_minhash_sig_fn, schema)


def _minhash_sig(spark, sf):
    return minhash_sig_of(load(spark, sf, "documents"))


def band_rows_of(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key) — one posexplode over the signature
    aggregate; a band key collides iff all its rows agree."""
    rows = N_MINHASH // N_BANDS
    band_keys = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"m{b * rows + r}") for r in range(rows)]
                ).cast("binary")
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_keys).alias("band_id", "band_key"))


def minhash_signatures(spark, sf):
    """Per-doc MinHash signature: 16 permutation minima via the classic
    affine scheme h_i(x) = (a_i * h(x) + b_i) mod (2^31 - 1).

    ONE md5 per (doc, shingle) pair provides the 32-bit base hash (md5 is
    the cross-engine hash); the 16 permutations are integer multiply-add-mod
    — pure int64 arithmetic, bit-identical in any engine and ~16x cheaper
    than seeded re-hashing. The plan has NO vocabulary table, NO broadcast,
    and exactly one shuffle (the groupBy(doc_id) min-agg); a broadcast
    shingle vocabulary would grow with the corpus and OOM the driver at
    100 TB.
    """
    return _minhash_sig(spark, sf).orderBy("doc_id")


_HASH_COLS = ", ".join(
    f"({MH_A[i]} * base + {MH_B[i]}) % {MH_P} AS h{i}" for i in range(N_MINHASH)
)
_BASED_CTE = (
    "based AS (SELECT doc_id, "
    f"CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {MH_P} AS base "
    "FROM shingles)"
)
_MH_COLS = ", ".join(f"MIN(h{i}) AS m{i}" for i in range(N_MINHASH))

MINHASH_SIG_SQL = f"""
WITH {SHINGLES_CTE},
{_BASED_CTE},
hashed AS (SELECT doc_id, {_HASH_COLS} FROM based)
SELECT doc_id, {_MH_COLS}
FROM hashed GROUP BY doc_id ORDER BY doc_id
"""


def _minhash_candidate_pairs(spark, sf):
    """Unsorted LSH candidate-pair plan — composition building block (the
    group-forming query must not inherit a global sort).

    The signature table is persisted: the band self-join consumes it on
    BOTH sides (one of them broadcast), and without materialization each
    side re-runs the whole signature kernel over the corpus (2 MapInArrow
    nodes in the plan — the 10M-shingle md5 work twice). Signatures are
    17 ints per doc, the artifact a 100 TB dedup run would persist (or
    write) once anyway."""
    from pyspark import StorageLevel

    sig = _minhash_sig(spark, sf).persist(StorageLevel.MEMORY_AND_DISK)
    bands = band_rows_of(sig)
    a = bands.alias("a")
    b_ = bands.alias("b")
    return (
        a.join(b_, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_candidates(spark, sf):
    """LSH banding over MinHash signatures → candidate near-dup pairs.

    bands of {N_MINHASH // N_BANDS} rows; pair emitted when any band key
    collides. This is the scale path: candidates-only, no quadratic scan.
    The band keys explode from ONE pass over the signature aggregate
    (posexplode, not a 4-way union that would re-evaluate the agg), and
    the self-join's two sides share the signature shuffle via Spark's
    exchange reuse.
    """
    return _minhash_candidate_pairs(spark, sf).orderBy("doc_a", "doc_b")


_BAND_SELECTS = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_id, md5(concat_ws('|', "
    + ", ".join(f"m{b * (N_MINHASH // N_BANDS) + r}" for r in range(N_MINHASH // N_BANDS))
    + ")) AS band_key FROM sig"
    for b in range(N_BANDS)
)

MINHASH_LSH_SQL = f"""
WITH {SHINGLES_CTE},
{_BASED_CTE},
hashed AS (SELECT doc_id, {_HASH_COLS} FROM based),
sig AS (SELECT doc_id, {_MH_COLS} FROM hashed GROUP BY doc_id),
bands AS ({_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band_id, band_key)
WHERE a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""

def lsh_index_incremental(spark, sf):
    """Persistent LSH index lifecycle (plans/lsh_index.py): build the
    index from two-thirds of the corpus, admit the remaining third as a
    batch, and return the candidate pairs that admission discovered
    (batch-vs-history plus batch-vs-batch).

    Because signatures are pure functions of (doc_id, text), incremental
    admission is provably equivalent to single-shot banding — the oracle
    runs the full-corpus banding SQL and keeps the pairs with at least
    one batch-side document. History is never re-shingled: the admission
    join reads the persisted band rows."""
    import tempfile

    from dataset_dedupe_estimator_spark.plans.lsh_index import (
        admit_docs,
        build_lsh_index,
    )

    docs = load(spark, sf, "documents")
    with tempfile.TemporaryDirectory() as d:
        idx = f"{d}/lsh"
        build_lsh_index(spark, docs.filter(F.col("doc_id") % 3 != 0), idx)
        cands, _report = admit_docs(
            spark, docs.filter(F.col("doc_id") % 3 == 0), idx
        )
        # materialize before the temp index dir vanishes
        rows = [(r.doc_a, r.doc_b) for r in cands.collect()]
    return spark.createDataFrame(rows, "doc_a long, doc_b long").orderBy(
        "doc_a", "doc_b"
    )


LSH_INDEX_INCR_SQL = f"""
WITH {SHINGLES_CTE},
{_BASED_CTE},
hashed AS (SELECT doc_id, {_HASH_COLS} FROM based),
sig AS (SELECT doc_id, {_MH_COLS} FROM hashed GROUP BY doc_id),
bands AS ({_BAND_SELECTS})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b USING (band_id, band_key)
WHERE a.doc_id < b.doc_id AND (a.doc_id % 3 = 0 OR b.doc_id % 3 = 0)
ORDER BY doc_a, doc_b
"""


SIMHASH_BITS = 32


def simhash_signatures(spark, sf):
    """Per-doc SimHash: bit j from the sign of Σ_tokens (±1 by the j-th
    md5 nibble's high bit). Output as a {SIMHASH_BITS}-char bit string."""
    docs = load(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    h = F.md5(F.col("token").cast("binary"))
    aggs = []
    for j in range(SIMHASH_BITS):
        nibble_hi = F.substring(h, j + 1, 1).isin(*"89abcdef")
        aggs.append(F.sum(F.when(nibble_hi, 1).otherwise(-1)).alias(f"s{j}"))
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(SIMHASH_BITS)]
    )
    return per_doc.select("doc_id", bits.alias("simhash")).orderBy("doc_id")


_SIM_SUMS = ", ".join(
    f"SUM(CASE WHEN substr(md5(token), {j + 1}, 1) IN "
    "('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS s" + str(j)
    for j in range(SIMHASH_BITS)
)
_SIM_BITS = " || ".join(
    f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(SIMHASH_BITS)
)

SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, u.token FROM documents, UNNEST(string_split(text, ' ')) AS u(token)
),
sums AS (SELECT doc_id, {_SIM_SUMS} FROM tok GROUP BY doc_id)
SELECT doc_id, {_SIM_BITS} AS simhash FROM sums ORDER BY doc_id
"""


SIMHASH_BANDS = 4  # 8 bits per band; <=3 differing bits guarantees a collision
SIMHASH_MAX_HAMMING = 3  # classic simhash near-dup threshold (Manku et al.)


def _simhash_sig_unsorted(spark, sf):
    docs = load(spark, sf, "documents")
    tok = docs.select("doc_id", F.explode(tokens_col()).alias("token"))
    h = F.md5(F.col("token").cast("binary"))
    aggs = []
    for j in range(SIMHASH_BITS):
        nibble_hi = F.substring(h, j + 1, 1).isin(*"89abcdef")
        aggs.append(F.sum(F.when(nibble_hi, 1).otherwise(-1)).alias(f"s{j}"))
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    bits = F.concat(
        *[F.when(F.col(f"s{j}") > 0, "1").otherwise("0") for j in range(SIMHASH_BITS)]
    )
    return per_doc.select("doc_id", bits.alias("simhash"))


def simhash_candidates(spark, sf):
    """SimHash near-dup candidates: band the {SIMHASH_BITS}-bit signature
    into {SIMHASH_BANDS} bands (pigeonhole: two signatures within
    {SIMHASH_BANDS - 1} differing bits always share an identical band),
    pair on band collisions, verify with exact Hamming distance ≤
    {SIMHASH_MAX_HAMMING}. Completes the SimHash path the way banding
    completes MinHash — candidates only, no quadratic scan."""
    sig = _simhash_sig_unsorted(spark, sf)
    width = SIMHASH_BITS // SIMHASH_BANDS
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.substring(F.col("simhash"), b * width + 1, width)
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    a = bands.alias("a")
    b_ = bands.alias("b")
    hamming = sum(
        (
            F.substring(F.col("a.simhash"), j + 1, 1)
            != F.substring(F.col("b.simhash"), j + 1, 1)
        ).cast("int")
        for j in range(SIMHASH_BITS)
    )
    return (
        a.join(b_, ["band_id", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def _simhash_candidates_sql() -> str:
    width = SIMHASH_BITS // SIMHASH_BANDS
    band_selects = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band_id, "
        f"substr(simhash, {b * width + 1}, {width}) AS band_key FROM sig"
        for b in range(SIMHASH_BANDS)
    )
    hamming = " + ".join(
        f"CASE WHEN substr(a.simhash, {j + 1}, 1) != substr(b.simhash, {j + 1}, 1) "
        "THEN 1 ELSE 0 END"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, u.token FROM documents, UNNEST(string_split(text, ' ')) AS u(token)
),
sums AS (SELECT doc_id, {_SIM_SUMS} FROM tok GROUP BY doc_id),
sig AS (SELECT doc_id, {_SIM_BITS} AS simhash FROM sums),
bands AS ({band_selects})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, ({hamming}) AS hamming
FROM bands a JOIN bands b USING (band_id, band_key)
WHERE a.doc_id < b.doc_id AND ({hamming}) <= {SIMHASH_MAX_HAMMING}
ORDER BY doc_a, doc_b
"""


def dedup_exact_events(spark, sf):
    """Exact row-level dedup over the events stream (the test corpus has
    duplicate (user_id, event_type, value, props) rows; documents do not)."""
    ev = load(spark, sf, "events")
    key = F.md5(
        F.concat_ws(
            "|",
            F.col("user_id"),
            F.col("event_type"),
            cents_str := (F.round(F.col("value") * 100, 0).cast("long")),
            F.col("props"),
        ).cast("binary")
    )
    return (
        ev.select(key.alias("row_hash"), "event_id")
        .groupBy("row_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("event_id").alias("keeper_event_id"))
        .filter(F.col("n_dups") > 1)
        .orderBy("row_hash")
    )


DEDUP_EVENTS_SQL = """
SELECT md5(concat_ws('|', user_id, event_type,
                     CAST(ROUND(value * 100.0) AS BIGINT), props)) AS row_hash,
       COUNT(*) AS n_dups, MIN(event_id) AS keeper_event_id
FROM events GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY row_hash
"""


def dedup_near_groups(spark, sf):
    """Near-duplicate *clusters*: MinHash-LSH candidate pairs → distributed
    connected components (operators/components.py) → one row per duplicate
    group (component = min doc_id, member count). This is the full
    production dedup shape — pairs alone can't answer "keep one per
    cluster" when duplicates chain (A~B, B~C but A≁C).

    The Spark side runs the real iterative operator (pointer-jumping label
    propagation); the oracle reproduces the fixpoint with a recursive CTE
    (min label = min reachable vertex)."""
    from dataset_dedupe_estimator_spark.operators.components import (
        component_summary,
        connected_components,
    )

    edges = _minhash_candidate_pairs(spark, sf)
    labels = connected_components(edges, src="doc_a", dst="doc_b")
    return component_summary(labels).select(
        "component", F.col("n_members").alias("n_docs")
    )


DEDUP_NEAR_GROUPS_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
{_BASED_CTE},
hashed AS (SELECT doc_id, {_HASH_COLS} FROM based),
sig AS (SELECT doc_id, {_MH_COLS} FROM hashed GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_id, band_key)
  WHERE a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION SELECT doc_b, doc_a FROM cand
),
reach(v, c) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.c FROM und u JOIN reach r ON u.src = r.v
),
comp AS (SELECT v, MIN(c) AS component FROM reach GROUP BY v)
SELECT component, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM comp GROUP BY component ORDER BY component
"""


def dedup_near_survivors(spark, sf):
    """Survivor corpus after near-dup clustering: every document keeps its
    component's min doc_id as canonical; non-members are their own
    component. Output: per-source count of canonical (surviving) docs and
    of docs folded into another doc's cluster — the final act of the
    near-dedup pipeline (pairs → groups → one survivor per group).

    Plan: the component labels join back to documents on doc_id (broadcast
    — labels only exist for docs that appeared in any candidate pair, a
    tiny set relative to the corpus)."""
    from dataset_dedupe_estimator_spark.operators.components import (
        connected_components,
    )

    docs = load(spark, sf, "documents")
    edges = _minhash_candidate_pairs(spark, sf)
    labels = connected_components(edges, src="doc_a", dst="doc_b").select(
        F.col("v").alias("doc_id"), "comp"
    )
    tagged = docs.join(F.broadcast(labels), "doc_id", "left").select(
        "doc_id",
        "source",
        F.coalesce(F.col("comp"), F.col("doc_id")).alias("canonical"),
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("doc_id") == F.col("canonical")).cast("long")).alias(
                "n_survivors"
            ),
            F.sum((F.col("doc_id") != F.col("canonical")).cast("long")).alias(
                "n_folded"
            ),
        )
        .orderBy("source")
    )


DEDUP_NEAR_SURVIVORS_SQL = f"""
WITH RECURSIVE {SHINGLES_CTE},
{_BASED_CTE},
hashed AS (SELECT doc_id, {_HASH_COLS} FROM based),
sig AS (SELECT doc_id, {_MH_COLS} FROM hashed GROUP BY doc_id),
bands AS ({_BAND_SELECTS}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b USING (band_id, band_key)
  WHERE a.doc_id < b.doc_id
),
und AS (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION SELECT doc_b, doc_a FROM cand
),
reach(v, c) AS (
  SELECT src, src FROM und
  UNION
  SELECT u.dst, r.c FROM und u JOIN reach r ON u.src = r.v
),
comp AS (SELECT v AS doc_id, MIN(c) AS comp FROM reach GROUP BY v),
tagged AS (
  SELECT d.doc_id, d.source, COALESCE(comp.comp, d.doc_id) AS canonical
  FROM documents d LEFT JOIN comp USING (doc_id)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN doc_id = canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors,
       CAST(SUM(CASE WHEN doc_id != canonical THEN 1 ELSE 0 END) AS BIGINT) AS n_folded
FROM tagged GROUP BY source ORDER BY source
"""


KMV_K = 8


def kmv_sketches(spark, sf):
    """KMV (k-minimum-values) sketch per document over its shingle set —
    the mergeable sketch behind approximate containment/Jaccard search
    (KMV/GB-KMV family). The k smallest md5 values of a set are a uniform
    sample of its hashed universe; distinct-count estimate is
    (k-1) / kth_min_normalized.

    Fully oracle-checkable: the sketch is serialized as a comma-joined
    string (scalar column — array columns crash row-canonicalizers that
    sort by value), the estimator is exact integer/double arithmetic off
    the k-th minimum.
    """
    sh = shingles_df(spark, sf)
    h = F.md5(F.col("shingle").cast("binary"))
    per_doc = sh.groupBy("doc_id").agg(
        F.slice(F.array_sort(F.collect_set(h)), 1, KMV_K).alias("kmv_arr"),
        F.countDistinct("shingle").alias("true_distinct"),
    )
    kth = F.element_at(F.col("kmv_arr"), KMV_K)
    # first 8 hex chars → uniform in [0, 2^32)
    kth_u32 = F.conv(F.substring(kth, 1, 8), 16, 10).cast("double")
    est = (F.lit(float(KMV_K - 1)) / (kth_u32 / F.lit(4294967296.0)))
    return per_doc.select(
        "doc_id",
        F.array_join(F.col("kmv_arr"), ",").alias("kmv"),
        "true_distinct",
        F.when(F.size("kmv_arr") >= KMV_K, F.round(est, 2)).alias("est_distinct"),
    ).orderBy("doc_id")


KMV_SQL = f"""
WITH {SHINGLES_CTE},
per_doc AS (
  SELECT doc_id,
         list_sort(list_distinct(array_agg(md5(shingle))))[1:{KMV_K}] AS kmv,
         COUNT(DISTINCT shingle) AS true_distinct
  FROM shingles GROUP BY doc_id
)
SELECT doc_id, array_to_string(kmv, ',') AS kmv, true_distinct,
       CASE WHEN len(kmv) >= {KMV_K}
            THEN ROUND({KMV_K - 1}.0 /
                 (CAST(CAST('0x' || substr(kmv[{KMV_K}], 1, 8) AS BIGINT) AS DOUBLE)
                  / 4294967296.0), 2)
       END AS est_distinct
FROM per_doc ORDER BY doc_id
"""


CMS_D = 4  # sketch rows (independent hash functions)
CMS_W = 64  # buckets per row — small on purpose so collisions are exercised


def cms_token_counts(spark, sf):
    """Count-min sketch over corpus tokens, checked against exact counts.

    The CMS is THE bounded-memory frequency sketch for streaming/merge
    settings: the whole table is D×W = {CMS_D}×{CMS_W} cells regardless of
    corpus size, each partition's partial table merges by cell-wise sum
    (map-side partial agg does exactly that here), and estimates only ever
    overestimate. Output: the top-20 exact tokens with their sketch
    estimate and the (always ≥ 0) overestimation — deterministic in both
    engines because bucket hashing is the md5-prefix convention
    (minhash_signatures) and the sketch arithmetic is integer-only.

    100 TB shape: occurrences never shuffle — the sketch aggregate
    collapses to ≤ D×W rows per partition before the (tiny) exchange; the
    estimate probe joins the D-row buckets of each candidate token against
    the broadcast 256-cell table.
    """
    docs = load(spark, sf, "documents")
    occ = docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))

    def bucket(tok, d: int):
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{d}:"), tok).cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        return h % CMS_W

    # ONE explode: the sketch aggregates from the (token, count) table
    # (cell = Σ counts of tokens hashing there — identical to counting
    # occurrences directly), so the corpus isn't scanned and exploded a
    # second time for the exact-count side; the two consumers prune the
    # same columns, so the counts exchange reuses.
    counts = occ.groupBy("token").agg(F.count(F.lit(1)).alias("exact"))
    cells = counts.select(
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), bucket(F.col("token"), d).alias("bucket"))
                    for d in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("exact", "cell.d", "cell.bucket")
    cms = cells.groupBy("d", "bucket").agg(F.sum("exact").alias("cell_count"))
    top = counts.orderBy(F.col("exact").desc(), F.col("token")).limit(20)
    probes = top.select(
        "token",
        "exact",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), bucket(F.col("token"), d).alias("bucket"))
                    for d in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("token", "exact", "cell.d", "cell.bucket")
    return (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("token", "exact")
        .agg(F.min("cell_count").alias("cms_estimate"))
        .select(
            "token",
            "exact",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact")).alias("overestimate"),
        )
        .orderBy(F.col("exact").desc(), F.col("token"))
    )


def _cms_bucket_sql(tok: str, d: int) -> str:
    return f"CAST('0x' || substr(md5('{d}:' || {tok}), 1, 8) AS BIGINT) % {CMS_W}"


CMS_SQL = f"""
WITH occ AS (
  SELECT u.token FROM documents, UNNEST(string_split(text, ' ')) AS u(token)
),
cells AS (
  {" UNION ALL ".join(f"SELECT {d} AS d, {_cms_bucket_sql('token', d)} AS bucket FROM occ" for d in range(CMS_D))}
),
cms AS (SELECT d, bucket, COUNT(*) AS cell_count FROM cells GROUP BY d, bucket),
top AS (
  SELECT token, COUNT(*) AS exact FROM occ GROUP BY token
  ORDER BY exact DESC, token LIMIT 20
),
probes AS (
  {" UNION ALL ".join(f"SELECT token, exact, {d} AS d, {_cms_bucket_sql('token', d)} AS bucket FROM top" for d in range(CMS_D))}
)
SELECT token, exact, MIN(cell_count) AS cms_estimate,
       CAST(MIN(cell_count) - exact AS BIGINT) AS overestimate
FROM probes JOIN cms USING (d, bucket)
GROUP BY token, exact
ORDER BY exact DESC, token
"""


def near_dup_source_matrix(spark, sf):
    """Cross-source near-duplication matrix: for every (source, source)
    pair, how many ≥0.5-Jaccard near-dup doc pairs link them, normalized
    per million possible pairs — the measurement behind de-weighting a
    mirror-heavy source mix before pretraining (a crawl source that
    near-duplicates a curated source should not be double-counted by the
    sampler).

    Plan: the exact shingle-equi-join pair scan (`ngram_jaccard_pairs`
    — never all-pairs), two broadcast joins to attach sources, the pair
    ordered lexically so (a,b) and (b,a) collapse, and a tiny per-source
    census broadcast for the denominators: same-source pairs are rated
    against n·(n−1)/2, cross-source against n_a·n_b. Integer math into
    one rounded rate."""
    docs = load(spark, sf, "documents").select("doc_id", "source")
    pairs = ngram_jaccard_pairs(spark, sf)
    with_src = pairs.join(
        F.broadcast(docs.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))),
        "doc_a",
    ).join(
        F.broadcast(docs.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))),
        "doc_b",
    )
    counts = (
        with_src.select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    census = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    ca = census.select(F.col("source").alias("source_a"), F.col("n").alias("n_docs_a"))
    cb = census.select(F.col("source").alias("source_b"), F.col("n").alias("n_docs_b"))
    denom = F.when(
        F.col("source_a") == F.col("source_b"),
        F.expr("n_docs_a * (n_docs_a - 1) div 2"),
    ).otherwise(F.col("n_docs_a") * F.col("n_docs_b"))
    return (
        counts.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "n_docs_a",
            "n_docs_b",
            F.round(F.col("n_pairs") * 1000000.0 / denom, 3).alias("pairs_per_1m"),
        )
        .orderBy("source_a", "source_b")
    )


NEAR_DUP_SOURCE_SQL = f"""
WITH {SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM shingles GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
pairs AS (
  SELECT doc_a, doc_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE)
        / CAST(sa.n_shingles + sb.n_shingles - n_inter AS DOUBLE) >= 0.5
),
with_src AS (
  SELECT LEAST(da.source, db.source) AS source_a,
         GREATEST(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON da.doc_id = doc_a
  JOIN documents db ON db.doc_id = doc_b
),
counts AS (
  SELECT source_a, source_b, COUNT(*) AS n_pairs
  FROM with_src GROUP BY 1, 2
),
census AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source)
SELECT source_a, source_b, n_pairs,
       ca.n AS n_docs_a, cb.n AS n_docs_b,
       ROUND(n_pairs * 1000000.0 /
             (CASE WHEN source_a = source_b THEN ca.n * (ca.n - 1) // 2
                   ELSE ca.n * cb.n END), 3) AS pairs_per_1m
FROM counts
JOIN census ca ON ca.source = source_a
JOIN census cb ON cb.source = source_b
ORDER BY source_a, source_b
"""


QUERIES = {
    "near_dup_source_matrix": Q(near_dup_source_matrix, NEAR_DUP_SOURCE_SQL),
    "dedup_exact_groups": Q(dedup_exact_groups, DEDUP_EXACT_SQL),
    "dup_cluster_sizes": Q(dup_cluster_sizes, DUP_CLUSTER_SIZES_SQL),
    "dedup_exact_events": Q(dedup_exact_events, DEDUP_EVENTS_SQL),
    "dedup_fingerprint_groups": Q(dedup_fingerprint_groups, DEDUP_FP_SQL),
    "dedup_keep_first": Q(dedup_keep_first, DEDUP_KEEP_FIRST_SQL, headline=True),
    "ngram_jaccard_pairs": Q(ngram_jaccard_pairs, NGRAM_JACCARD_SQL),
    "ngram_containment_pairs": Q(ngram_containment_pairs, NGRAM_CONTAINMENT_SQL),
    "minhash_signatures": Q(minhash_signatures, MINHASH_SIG_SQL),
    "minhash_lsh_candidates": Q(minhash_lsh_candidates, MINHASH_LSH_SQL, headline=True),
    "lsh_index_incremental": Q(lsh_index_incremental, LSH_INDEX_INCR_SQL),
    "simhash_signatures": Q(simhash_signatures, SIMHASH_SQL),
    "simhash_candidates": Q(simhash_candidates, _simhash_candidates_sql()),
    "dedup_near_groups": Q(dedup_near_groups, DEDUP_NEAR_GROUPS_SQL),
    "dedup_near_survivors": Q(dedup_near_survivors, DEDUP_NEAR_SURVIVORS_SQL),
    "kmv_sketches": Q(kmv_sketches, KMV_SQL),
    "cms_token_counts": Q(cms_token_counts, CMS_SQL),
}
