"""Trained IVF approximate-nearest-neighbor index over an embedding column.

The queries layer has the oracle-checkable ANN forms (hyperplane LSH,
seed-vector IVF); this operator is the production form: centroids trained
with pyspark.ml KMeans (iterative, distributed), corpus assigned to cells
once (persist the assignment at scale), queries probe the ``nprobe``
nearest cells and exact-rerank inside them.

Scale: training samples the corpus; assignment is one broadcast of k
centroids; a query scans ~nprobe/k of the corpus. The assignment table is
the thing you bucket/persist at 100 TB (sources/bucketed.py), giving
shuffle-free probe scans.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from dataset_dedupe_estimator_spark.functions.vectors import cosine, norm
from dataset_dedupe_estimator_spark.plans._genstore import GenStore


def _make_lloyd_assign_fn(C, dim: int, with_nrm: bool = False):
    """Arrow-batched squared-L2 argmin assignment against the broadcast
    (closure) centroid matrix — the Lloyd's inner loop.

    Bit-parity contract with the declarative form it replaced
    (``dot(e,e) - 2.0*dot(e,c) + dot(c,c)`` + row_number over
    (d2 asc, cell asc)): every dot accumulates in strict ascending-d
    order from +0.0 (the left fold of functions.vectors.dot and DuckDB
    list_reduce), d2 composes as ``(ee - 2.0*ec) + cc`` elementwise —
    the same IEEE operation tree — and ``np.argmin``'s first-minimum
    rule is exactly the lowest-cell tie-break."""
    Cl = np.asarray(C, dtype=np.float64).copy()

    def fn(it):
        import numpy as np
        import pyarrow as pa

        k = Cl.shape[0]
        cc = np.zeros(k)
        for d in range(dim):
            cc += Cl[:, d] * Cl[:, d]
        for batch in it:
            idx = {n: i for i, n in enumerate(batch.schema.names)}
            vec_id = batch.column(idx["vec_id"])
            emb_col = batch.column(idx["embedding"])
            e = (
                emb_col.flatten().to_numpy(zero_copy_only=False)
                .reshape(-1, dim)
            )
            nb = e.shape[0]
            ee = np.zeros(nb)
            for d in range(dim):
                ee += e[:, d] * e[:, d]
            ec = np.zeros((nb, k))
            for d in range(dim):
                ec += e[:, d, None] * Cl[None, :, d]
            d2 = (ee[:, None] - 2.0 * ec) + cc[None, :]
            cell = np.argmin(d2, axis=1).astype(np.int32)
            arrays = [vec_id, emb_col]
            names = ["vec_id", "embedding"]
            if with_nrm:
                arrays.append(pa.array(np.sqrt(ee), pa.float64()))
                names.append("nrm")
            arrays.append(pa.array(cell, pa.int32()))
            names.append("cell")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return fn


class IvfIndex:
    def __init__(self, assigned: DataFrame, centroids: np.ndarray):
        self.assigned = assigned  # (vec_id, embedding, nrm, cell)
        self.centroids = centroids  # (k, dim) float64

    @classmethod
    def train(
        cls,
        emb: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        k: int = 16,
        seed: int = 42,
    ) -> "IvfIndex":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector, vector_to_array

        vecs = emb.select(
            id_col, vec_col, array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=k, seed=seed, featuresCol="features", predictionCol="cell").fit(vecs)
        assigned = model.transform(vecs).select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            norm(F.col(vec_col)).alias("nrm"),
            F.col("cell"),
        )
        centroids = np.array([np.asarray(c) for c in model.clusterCenters()])
        return cls(assigned, centroids)

    @classmethod
    def train_lloyd(
        cls,
        emb: DataFrame,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        k: int = 16,
        iters: int = 5,
        seed: int = 42,
    ) -> "IvfIndex":
        """Seeded deterministic Lloyd's k-means over pure DataFrame ops
        (no MLlib): init picks the ``k`` rows ranked lowest by a seeded
        ``xxhash64(id)`` (a deterministic pseudo-random sample), each
        of the fixed ``iters`` iterations assigns every vector to its
        squared-L2-argmin centroid (broadcast cross join, k rows —
        ties to the lowest cell) and recomputes per-cell component
        means. Centroids are therefore a pure function of (data, k,
        iters, seed) given a fixed plan — and, unlike
        :meth:`train`'s MLlib KMeans, the distance arithmetic is the
        engine-portable left fold (functions/vectors.dot), so an
        oracle can recompute the assignment from the exported centroid
        literals bit-for-bit (queries/similarity.ann_ivf_trained).

        Scale shape per iteration: one broadcast of k centroids, one
        k-group aggregate — the standard distributed Lloyd's; the
        corpus is persisted once across iterations."""
        vecs = emb.select(
            F.col(id_col).cast("long").alias("vec_id"),
            F.col(vec_col).cast("array<double>").alias("embedding"),
        ).persist()
        init = vecs.orderBy(
            F.xxhash64(F.col("vec_id"), F.lit(seed)), "vec_id"
        ).limit(k).collect()
        C = np.array([r["embedding"] for r in init], dtype=np.float64)
        dim = C.shape[1]

        # r14: the per-iteration assignment is ONE Arrow kernel over the
        # persisted corpus (centroids ride in the closure) instead of a
        # k-way broadcast crossJoin + interpreted HOF folds + row_number
        # window — the d2 arithmetic is the SAME expression tree,
        # term for term: every dot is the strict ascending-d left fold
        # from +0.0 (bit-identical to functions.vectors.dot /
        # list_reduce), d2 = (ee - 2.0*ec) + cc elementwise, and
        # np.argmin's first-minimum tie-break IS the window's
        # (d2 asc, cell asc) ordering. Pinned by
        # test_ann.test_lloyd_kernel_matches_declarative_assign.
        def _assign(C, with_nrm=False):
            return vecs.mapInArrow(
                _make_lloyd_assign_fn(C, dim, with_nrm),
                "vec_id long, embedding array<double>, "
                + ("nrm double, " if with_nrm else "")
                + "cell int",
            )

        for _ in range(iters):
            means = (
                _assign(C)
                .groupBy("cell")
                .agg(*[
                    F.avg(F.col("embedding")[i]).alias(f"m{i}")
                    for i in range(dim)
                ])
                .collect()
            )
            for r in means:  # an empty cell keeps its old centroid
                C[r["cell"]] = [r[f"m{i}"] for i in range(dim)]

        # nrm folds into the final kernel pass: sqrt of the same ee
        # left fold (== functions.vectors.norm, the cumsum identity the
        # parity tests pin elsewhere)
        assigned = _assign(C, with_nrm=True).select(
            "vec_id", "embedding", "nrm", "cell"
        )
        vecs.unpersist()  # lineage stays valid; one recompute at use
        return cls(assigned, C)

    def search(self, query_vec: list[float], topk: int = 10, nprobe: int = 2) -> DataFrame:
        """Top-k by cosine among the nprobe nearest cells' members."""
        q = np.asarray(query_vec, dtype=np.float64)
        cnorm = np.linalg.norm(self.centroids, axis=1) * (np.linalg.norm(q) or 1.0)
        sims = (self.centroids @ q) / np.where(cnorm == 0, 1.0, cnorm)
        probe_cells = [int(c) for c in np.argsort(-sims)[:nprobe]]
        qcol = F.array(*[F.lit(float(v)) for v in q])
        cos = cosine(F.col("embedding"), qcol, F.col("nrm"))
        return (
            self.assigned.filter(F.col("cell").isin(probe_cells))
            .select("vec_id", "cell", cos.alias("cosine"))
            .orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(topk)
        )


PQ_STORE = GenStore("_pq_meta.json", indent=None)


class PqIndex:
    """Persistent IVF-PQ index — the billion-vector production shape of
    ``queries/similarity.py:ivfpq_search``: trained coarse centroids and
    per-subspace PQ codebooks live in a JSON manifest; the corpus is
    stored ONLY as (vec_id, codes) parquet PARTITIONED BY cell. A query
    probes the ``nprobe`` nearest cells — Spark's partition pruning reads
    just those directories — and scores by asymmetric distance against a
    broadcast lookup table. No float vector is ever read at query time:
    at 64 dims the code column is 32x smaller than the vectors, which is
    what lets a 1B-vector index fit a small fraction of cluster memory.

    Storage is the generation store the other persistent indexes share
    (plans/_genstore.py): code rows live in ``gen-NNNNN/`` directories
    (each cell-partitioned parquet), and the JSON manifest — rewritten
    with an atomic ``os.replace`` — is the ONLY commit point. Readers
    list generations ``[compacted_below, generations)`` from the
    manifest, so they can never observe a partial append (uncommitted
    gen dirs are invisible) or a mid-compact rename (compaction commits a
    merged generation and advances ``compacted_below``; superseded dirs
    are removed only after the commit). Writers are single-writer
    (plans/_index_lock.py); readers never take the lock.
    """

    MANIFEST = PQ_STORE.manifest

    def __init__(self, index_dir, centroids, codebooks, m, sub,
                 encoding: str = "residual"):
        self.index_dir = str(index_dir)
        self.centroids = centroids  # (k, dim)
        self.codebooks = codebooks  # (m, ks, sub)
        self.m, self.sub = m, sub
        # "residual" (r7 default): codes quantize v - centroid[cell] —
        # the standard IVF-PQ refinement; the residual's dynamic range
        # is a fraction of the vector's, so the same code budget spends
        # itself on a much smaller volume and recall rises (SCALING.md
        # curve). "plain" reads indexes built before r7.
        self.encoding = encoding

    def _cell_table(self, q: np.ndarray, cell: int) -> np.ndarray:
        """(m, ks) ADC lookup table for ``q`` against ``cell``'s code
        space: residual encoding subtracts the cell centroid from the
        query first, so table[mi][j] = ||(q - c)_mi - codebook[mi][j]||²
        and summing over mi approximates ||q - (c + reconstructed)||²."""
        r = q - self.centroids[cell] if self.encoding == "residual" else q
        t = np.empty((self.m, self.codebooks.shape[1]), dtype=np.float64)
        for mi in range(self.m):
            rs = r[mi * self.sub : (mi + 1) * self.sub]
            t[mi] = ((self.codebooks[mi] - rs[None, :]) ** 2).sum(axis=1)
        return t

    @staticmethod
    def _train_codebooks(sample: np.ndarray, m: int, ks: int, iters: int, seed: int):
        """Per-subspace Lloyd k-means on a driver-side sample (FAISS
        trains PQ on samples too); deterministic for a fixed seed."""
        dim = sample.shape[1]
        sub = dim // m
        rng = np.random.default_rng(seed)
        books = np.empty((m, ks, sub), dtype=np.float64)
        for mi in range(m):
            x = sample[:, mi * sub : (mi + 1) * sub]
            cent = x[rng.choice(len(x), size=ks, replace=len(x) < ks)].copy()
            for _ in range(iters):
                d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                a = d.argmin(axis=1)
                for c in range(ks):
                    hit = x[a == c]
                    if len(hit):
                        cent[c] = hit.mean(axis=0)
            books[mi] = cent
        return books

    @classmethod
    def build(
        cls,
        emb: DataFrame,
        index_dir,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        k: int = 16,
        m: int = 8,
        ks: int = 256,
        train_sample: int = 8192,
        kmeans_iters: int = 10,
        seed: int = 42,
        encoding: str = "residual",
    ) -> "PqIndex":
        from pathlib import Path

        from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock

        index_dir = Path(index_dir)
        ivf = IvfIndex.train(emb, vec_col=vec_col, id_col=id_col, k=k, seed=seed)
        # orderBy before limit: a bare limit is not stable across
        # partition layouts, so the trained codebooks would differ
        # between clusters/file splits for the same seed (ADVICE r4)
        sample = np.array(
            [
                [float(v) for v in r[1]]
                for r in emb.select(id_col, vec_col).orderBy(id_col).limit(train_sample).collect()
            ],
            dtype=np.float64,
        )
        dim = sample.shape[1]
        if dim % m:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        if encoding not in ("residual", "plain"):
            raise ValueError(f"unknown encoding {encoding!r}")
        residual = encoding == "residual"
        if residual:
            # RESIDUAL training (r7 default): assign the sample to its
            # cells and train the codebooks on v - centroid[cell] —
            # codes then spend their budget on the residual's small
            # dynamic range instead of re-describing the cell position
            # the IVF already encodes
            sd2 = ((sample[:, None, :] - ivf.centroids[None, :, :]) ** 2).sum(axis=2)
            train_on = sample - ivf.centroids[sd2.argmin(axis=1)]
        else:  # legacy comparison mode (pre-r7 indexes read as plain)
            train_on = sample
        books = cls._train_codebooks(train_on, m, ks, kmeans_iters, seed)
        sub = dim // m

        cent_arr = ivf.centroids  # bind OUTSIDE the closure: capturing
        # `ivf` would drag its assigned DataFrame into the pickle

        def encode(batches):
            import pyarrow as pa

            C = books  # (m, ks, sub) — broadcast via closure
            CENT = cent_arr
            for batch in batches:
                idx = {n: i for i, n in enumerate(batch.schema.names)}
                flat = batch.column(idx["embedding"]).flatten().to_numpy(
                    zero_copy_only=False
                )
                cells = batch.column(idx["cell"]).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                e = flat.astype(np.float64).reshape(-1, dim)
                if residual:
                    e = e - CENT[cells]  # residual per assigned cell
                codes = np.empty((e.shape[0], m), dtype=np.int64)
                for mi in range(m):
                    x = e[:, mi * sub : (mi + 1) * sub]
                    d = ((x[:, None, :] - C[mi][None, :, :]) ** 2).sum(axis=2)
                    codes[:, mi] = d.argmin(axis=1)
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(idx["vec_id"]),
                        batch.column(idx["cell"]),
                        pa.array([list(map(int, r)) for r in codes], pa.list_(pa.int64())),
                    ],
                    names=["vec_id", "cell", "codes"],
                )

        with writer_lock(index_dir):
            # a crashed earlier build may have left gen dirs with no
            # manifest (never committed) — clear them before rebuilding
            PQ_STORE.clear(index_dir, None)
            coded = ivf.assigned.select(
                F.col("vec_id"), F.col("cell"), F.col("embedding")
            ).mapInArrow(encode, "vec_id long, cell int, codes array<long>")
            gen0 = PQ_STORE.gen_path(index_dir, 0)
            coded.write.mode("overwrite").partitionBy("cell").parquet(str(gen0))
            total = _pq_count(coded.sparkSession, [str(gen0)])
            PQ_STORE.commit(
                index_dir,
                {
                    "k": k, "m": m, "ks": ks, "dim": dim,
                    "centroids": ivf.centroids.tolist(),
                    "codebooks": books.tolist(),
                    "generations": 1,
                    "compacted_below": 0,
                    "total": total,
                    "encoding": encoding,
                },
            )
        return cls(index_dir, ivf.centroids, books, m, sub, encoding=encoding)

    @classmethod
    def load(cls, index_dir) -> "PqIndex":
        mf = PQ_STORE.load(index_dir)
        books = np.asarray(mf["codebooks"], dtype=np.float64)
        return cls(
            index_dir,
            np.asarray(mf["centroids"], dtype=np.float64),
            books,
            mf["m"],
            mf["dim"] // mf["m"],
            encoding=mf.get("encoding", "plain"),  # pre-r7 indexes
        )

    def codes_df(self, spark) -> DataFrame:
        """The committed code store: the manifest's live generations,
        re-read on every call so a reader sees each admission as soon as
        its manifest commit lands — and never sooner. Each generation is
        its own cell-partitioned root, so the store is a union of
        per-generation scans — cell partition pruning applies to every
        scan in the union."""
        from dataset_dedupe_estimator_spark.plans._tombstones import (
            minus_tombstones,
            tombstones_df,
        )

        # ONE manifest read for both the generation list and the
        # tombstone window (a delete landing between two reads would
        # otherwise pair new tombstones with an old generation list)
        mf = PQ_STORE.load(self.index_dir)
        df = PQ_STORE.read_each(spark, self.index_dir, mf)
        return minus_tombstones(
            df, tombstones_df(spark, self.index_dir, mf, "vec_id"), "vec_id"
        )

    def search(
        self,
        spark,
        query_vec,
        topk: int = 10,
        nprobe: int = 2,
        emb: DataFrame | None = None,
        rerank: int = 200,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ) -> DataFrame:
        """Top-k over the probed cells' code partitions.

        With ``emb`` (the source vector table): **shortlist + exact
        rerank**, the default production path — ADC ranks a shortlist of
        ``rerank`` candidates from the code column alone, then ONLY
        those rows' float vectors are read (a broadcast semi-join of
        ``rerank`` ids against the source scan) and exact cosine picks
        the final top-k. Measured on the 500k stress shape this lifts
        recall@10 from 0.14 to 0.39 at nprobe=8 for negligible cost —
        the shortlist is constant-sized, so at 100 TB the vector I/O
        stays ``rerank`` rows regardless of corpus size.

        Without ``emb``: pure ADC top-k (smaller adc = closer) — the
        code-only mode for when the float vectors are cold/archived.
        Partition pruning keeps either scan to ~nprobe/k of the code
        files."""
        q = np.asarray(query_vec, dtype=np.float64)
        d2 = ((self.centroids - q[None, :]) ** 2).sum(axis=1)
        probe_cells = [int(c) for c in np.argsort(d2)[:nprobe]]
        # one (m, ks) ADC table PER PROBED CELL (residual encoding makes
        # the table cell-dependent: the query's residual differs per
        # cell); nprobe x m x ks doubles ship in the task closure —
        # ~128 KB at production defaults, independent of corpus size
        tables = {c: self._cell_table(q, c) for c in probe_cells}
        m = self.m

        def adc_map(batches):
            import pyarrow as pa

            for batch in batches:
                bidx = {n: i for i, n in enumerate(batch.schema.names)}
                cells = batch.column(bidx["cell"]).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64)
                if len(cells) == 0:
                    continue
                codes_np = np.stack(
                    batch.column(bidx["codes"]).to_numpy(zero_copy_only=False)
                ).astype(np.int64)
                acc = np.zeros(len(cells), np.float64)
                for c in np.unique(cells):
                    mask = cells == c
                    T = tables[int(c)]
                    sub_codes = codes_np[mask]
                    a = np.zeros(mask.sum(), np.float64)
                    for mi in range(m):
                        a += T[mi, sub_codes[:, mi]]
                    acc[mask] = a
                yield pa.RecordBatch.from_arrays(
                    [
                        batch.column(bidx["vec_id"]),
                        batch.column(bidx["cell"]),
                        pa.array(acc, pa.float64()),
                    ],
                    names=["vec_id", "cell", "adc"],
                )

        codes = self.codes_df(spark).filter(F.col("cell").isin(probe_cells))
        shortlist = (
            codes.select("vec_id", "cell", "codes")
            .mapInArrow(adc_map, "vec_id long, cell int, adc double")
            .orderBy("adc", "vec_id")
            .limit(topk if emb is None else max(rerank, topk))
        )
        if emb is None:
            return shortlist
        qcol = F.array(*[F.lit(float(v)) for v in q])
        exact = cosine(F.col(vec_col), qcol, norm(F.col(vec_col)))
        return (
            emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
            .join(F.broadcast(shortlist), "vec_id")
            .select("vec_id", "cell", "adc", exact.alias("cosine"))
            .orderBy(F.col("cosine").desc(), "vec_id")
            .limit(topk)
        )

    def search_batch(
        self,
        spark,
        queries: DataFrame,
        topk: int = 10,
        nprobe: int = 2,
        emb: DataFrame | None = None,
        rerank: int = 200,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        q_id_col: str = "q_id",
        q_vec_col: str = "embedding",
    ) -> DataFrame:
        """Batch ANN: serve MANY query vectors in ONE job — the offline
        shape (eval retrieval, all-queries-nightly mining) where
        per-query job overhead dominates. ``queries`` is a bounded
        (q_id, embedding) frame (≤ ``PQ_MAX_QUERY_BATCH`` rows per call
        — the per-query ADC tables ship in the task closure at ~16 KB
        each; shard larger sets). Returns (q_id, vec_id, cell, adc[,
        cosine]) with each query's top-k, ranked exactly like
        :meth:`search` (pinned by test): one partition-pruned pass over
        the union of all queries' probe cells, rows fanned out per
        probing query by a broadcast (q_id, cell) table, ADC scored
        vectorized in Arrow batches, then a per-query rank window over
        candidates only. With ``emb``, the same shortlist+exact-rerank
        default as :meth:`search`, the rerank join reading only
        Q x rerank float rows."""
        return _pq_search_batch(
            self, spark, queries, topk, nprobe, emb, rerank,
            id_col, vec_col, q_id_col, q_vec_col,
        )


def pq_code_dup_groups(spark, index_dir, min_group: int = 2) -> DataFrame:
    """Embedding near-dup membership straight from the at-rest PQ codes:
    vectors quantized to the SAME (cell, code vector) reconstruct to the
    same point, so identical codes mean near-identical embeddings
    (within quantization distortion — the SemDeDup observation served
    from the index). Returns (vec_id, keeper_vec_id, group_size) for
    every member of a group of >= ``min_group``; ``keeper_vec_id`` is
    the group's smallest id (deterministic keep-first rule).

    Scale shape: the ONLY data read is the code column (32x smaller
    than the vectors — float embeddings are never touched), and the
    plan is one hash aggregate on (cell, codes) plus one equi-join of
    the small group table back onto the codes; at 1B vectors this is a
    narrow-table groupBy, not an ANN search, and cell partitioning
    keeps both sides co-located."""
    idx = PqIndex.load(index_dir)
    codes = idx.codes_df(spark)
    groups = (
        codes.groupBy("cell", "codes")
        .agg(
            F.min("vec_id").alias("keeper_vec_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
        .filter(F.col("group_size") >= min_group)
    )
    return codes.join(groups, ["cell", "codes"]).select(
        "vec_id", "keeper_vec_id", "group_size"
    )


PQ_MAX_QUERY_BATCH = 4096  # ADC tables ship in a task closure: 16 KB/query


def _pq_search_batch(idx: "PqIndex", spark, queries, topk, nprobe, emb,
                     rerank, id_col, vec_col, q_id_col, q_vec_col):
    """Implementation of :meth:`PqIndex.search_batch` (kept module-level
    so the closure captures arrays, not the index object)."""
    from pyspark.sql.window import Window

    rows = queries.select(q_id_col, q_vec_col).collect()
    if not rows:
        raise ValueError("search_batch needs at least one query")
    if len(rows) > PQ_MAX_QUERY_BATCH:
        raise ValueError(
            f"search_batch handles <= {PQ_MAX_QUERY_BATCH} queries per call "
            f"(got {len(rows)}): the per-query ADC tables travel in the "
            "task closure (~16 KB each) — shard larger sets into calls"
        )
    qids = [r[0] for r in rows]
    if len(set(qids)) != len(qids):
        raise ValueError("search_batch query ids must be unique")
    qmat = np.array([[float(v) for v in r[1]] for r in rows], dtype=np.float64)
    # internal DENSE POSITIONAL id (`qpos`) — query ids of any type
    # (strings, longs, ...) map back at the end via a broadcast join
    from pyspark.sql.types import IntegerType, StructField, StructType

    qmap_df = spark.createDataFrame(
        [(i, r[0]) for i, r in enumerate(rows)],
        StructType([
            StructField("qpos", IntegerType(), False),
            StructField("q_id", queries.schema[q_id_col].dataType, True),
        ]),
    )
    # per-query probe cells: (Q, k) distances, driver-side numpy
    d2 = ((qmat[:, None, :] - idx.centroids[None, :, :]) ** 2).sum(axis=2)
    probe = [
        (i, int(c))
        for i, dr in enumerate(d2)
        for c in np.argsort(dr)[:nprobe]
    ]
    all_cells = sorted({c for _, c in probe})
    probe_df = spark.createDataFrame(probe, "qpos int, cell int")
    # the closure ships the query MATRIX (Q x dim), centroids, and
    # codebooks; per-(query, cell) residual ADC tables are built lazily
    # inside the task and memoized — precomputing Q x nprobe tables
    # driver-side would ship Q x nprobe x m x ks doubles (hundreds of
    # MB at the 4096-query cap), while Q x dim is a few MB
    m, sub_w = idx.m, idx.sub
    books = idx.codebooks
    cents = idx.centroids
    residual = idx.encoding == "residual"

    def adc_score(batches):
        import pyarrow as pa

        cache: dict[tuple[int, int], np.ndarray] = {}

        def table_for(qi: int, c: int) -> np.ndarray:
            t = cache.get((qi, c))
            if t is None:
                r = qmat[qi] - cents[c] if residual else qmat[qi]
                t = np.empty((m, books.shape[1]), np.float64)
                for mi in range(m):
                    rs = r[mi * sub_w : (mi + 1) * sub_w]
                    t[mi] = ((books[mi] - rs[None, :]) ** 2).sum(axis=1)
                cache[(qi, c)] = t
            return t

        for batch in batches:
            bidx = {n: i for i, n in enumerate(batch.schema.names)}
            q = batch.column(bidx["qpos"]).to_numpy(zero_copy_only=False)
            if len(q) == 0:
                continue  # empty Arrow batch: np.stack would raise
            codes = np.stack(
                batch.column(bidx["codes"]).to_numpy(zero_copy_only=False)
            ).astype(np.int64)
            cells = batch.column(bidx["cell"]).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            rowsel = q.astype(np.int64)
            acc = np.zeros(len(q), np.float64)
            keys = rowsel * (cents.shape[0] + 1) + cells
            for key in np.unique(keys):
                mask = keys == key
                qi, c = divmod(int(key), cents.shape[0] + 1)
                T = table_for(qi, c)
                sub_codes = codes[mask]
                a = np.zeros(mask.sum(), np.float64)
                for mi in range(m):
                    a += T[mi, sub_codes[:, mi]]
                acc[mask] = a
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(bidx["qpos"]),
                    batch.column(bidx["vec_id"]),
                    batch.column(bidx["cell"]),
                    pa.array(acc, pa.float64()),
                ],
                names=["qpos", "vec_id", "cell", "adc"],
            )

    cand = (
        idx.codes_df(spark)
        .filter(F.col("cell").isin(all_cells))  # static -> partition pruning
        .join(F.broadcast(probe_df), "cell")  # fan rows out per probing query
        .select("qpos", "vec_id", "cell", "codes")
        .mapInArrow(adc_score, "qpos int, vec_id long, cell int, adc double")
        .join(F.broadcast(qmap_df), "qpos")
        .drop("qpos")
    )
    w = Window.partitionBy("q_id").orderBy("adc", "vec_id")
    shortlist = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= (topk if emb is None else max(rerank, topk)))
        .drop("rn")
    )
    if emb is None:
        return shortlist
    # exact rerank: join shortlist ids back to the source vectors and
    # score each row against its OWN query vector (broadcast query side)
    qsel = queries.select(
        F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("q_embedding")
    )
    exact = cosine(F.col(vec_col), F.col("q_embedding"), norm(F.col(vec_col)))
    w2 = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col))
        .join(F.broadcast(shortlist), "vec_id")
        .join(F.broadcast(qsel), "q_id")
        .select("q_id", "vec_id", "cell", "adc", exact.alias("cosine"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= topk)
        .drop("rn")
    )


def _pq_count(spark, paths: list[str]) -> int:
    return spark.read.parquet(*paths).count()


def _pq_has_rows(gen_dir) -> bool:
    from pathlib import Path

    return any(Path(gen_dir).rglob("*.parquet"))


def pq_index_add(spark, index_dir, emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id") -> dict:
    """Admit a new vector batch into an existing PqIndex — the
    continuous-ingestion path (same posture as the chunk/LSH indexes):
    centroids and codebooks are FROZEN at build time (re-training would
    silently invalidate every stored code), the batch is assigned and
    encoded against them, and its codes land in a NEW generation dir
    committed by the manifest replace. Already-present vec_ids are
    skipped (idempotent re-admission; the anti-join reads only COMMITTED
    generations, never the dir being written). O(batch) cost: the only
    counts are over the admitted generation; the store-wide total is
    carried in the manifest. Holds the index writer lock."""
    import shutil

    import numpy as np

    from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock

    idx = PqIndex.load(index_dir)
    C = idx.centroids
    books = idx.codebooks
    m, sub = idx.m, idx.sub
    dim = C.shape[1]
    residual = idx.encoding == "residual"

    def assign_encode(batches):
        import pyarrow as pa

        for batch in batches:
            bidx = {n: i for i, n in enumerate(batch.schema.names)}
            flat = batch.column(bidx["embedding"]).flatten().to_numpy(
                zero_copy_only=False
            )
            e = flat.astype(np.float64).reshape(-1, dim)
            d2 = ((e[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            cells = d2.argmin(axis=1).astype(np.int32)
            if residual:  # admit in the INDEX's encoding, not ours
                e = e - C[cells.astype(np.int64)]
            codes = np.empty((e.shape[0], m), dtype=np.int64)
            for mi in range(m):
                x = e[:, mi * sub : (mi + 1) * sub]
                dd = ((x[:, None, :] - books[mi][None, :, :]) ** 2).sum(axis=2)
                codes[:, mi] = dd.argmin(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(bidx["vec_id"]),
                    pa.array(cells, pa.int32()),
                    pa.array([list(map(int, r)) for r in codes], pa.list_(pa.int64())),
                ],
                names=["vec_id", "cell", "codes"],
            )

    with writer_lock(index_dir):
        meta = PQ_STORE.load(index_dir)
        gen = meta["generations"]
        PQ_STORE.clear(index_dir, meta)
        from dataset_dedupe_estimator_spark.plans._tombstones import (
            tombstones_df,
        )

        known = idx.codes_df(spark).select("vec_id")
        ts = tombstones_df(spark, index_dir, meta, "vec_id")
        if ts is not None:  # deleted ids are denylisted until compaction
            known = known.unionByName(ts)
        fresh = (
            emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
            .join(known, "vec_id", "left_anti")
        )
        coded = fresh.mapInArrow(
            assign_encode, "vec_id long, cell int, codes array<long>"
        )
        out = PQ_STORE.gen_path(index_dir, gen)
        coded.write.partitionBy("cell").parquet(str(out))
        if not _pq_has_rows(out):
            shutil.rmtree(out)  # nothing novel: no new generation
            return {"admitted": 0, "total": meta["total"]}
        admitted = _pq_count(spark, [str(out)])
        meta["generations"] = gen + 1
        meta["total"] = meta["total"] + admitted
        PQ_STORE.commit(index_dir, meta)
    return {"admitted": admitted, "total": meta["total"]}


def pq_index_delete(spark, index_dir, ids) -> dict:
    """Delete vectors (takedown): append a tombstone set — the ids
    vanish from search/search_batch/pq_code_dup_groups immediately
    (``codes_df`` is the one read point and anti-joins them) and are
    denylisted from re-admission until ``pq_index_compact`` physically
    purges the code rows and clears the sets (shared semantics:
    plans/_tombstones.py). ``ids`` is an iterable or one-column frame.
    The manifest's ``total`` is decremented by the ids actually live
    (a vec_id-column-pruned semi-join count — never the float
    vectors)."""
    from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock
    from dataset_dedupe_estimator_spark.plans._tombstones import (
        append_tombstone_set,
        normalize_ids,
    )

    with writer_lock(index_dir):
        meta = PQ_STORE.load(index_dir)
        idx = PqIndex.load(index_dir)
        ids_df = normalize_ids(spark, ids, "vec_id")
        # live membership BEFORE staging the new set (codes_df reads the
        # committed window; fresh ids below are new by construction)
        live = idx.codes_df(spark).select("vec_id")
        fresh = append_tombstone_set(spark, index_dir, meta, ids_df, "vec_id")
        if fresh is None:
            return {"deleted": 0, "denylisted": 0, "total": meta["total"]}
        matched = live.join(fresh, "vec_id", "left_semi").count()
        n_new = fresh.count()
        meta["total"] -= matched
        meta.setdefault("deletions", []).append(
            {"set": meta["tombstone_sets"] - 1, "vectors": matched,
             "denylisted": n_new}
        )
        PQ_STORE.commit(index_dir, meta)  # commit point
    return {"deleted": matched, "denylisted": n_new, "total": meta["total"]}


def pq_index_compact(spark, index_dir, files_per_cell: int = 1) -> dict:
    """Reclaim the small files a long admission history accumulates:
    merge every live generation into ONE new generation with
    ``files_per_cell`` files per cell, commit it by advancing the
    manifest's ``compacted_below`` past the superseded dirs, then remove
    them.
    Runs under the writer lock. A crash before the manifest commit
    leaves an uncommitted gen dir the next writer clears; a crash after
    the commit leaves superseded dirs readers never list (the next
    writer clears them). Readers are never blocked and never see a
    partial state."""
    from dataset_dedupe_estimator_spark.plans._index_lock import writer_lock

    with writer_lock(index_dir):
        meta = PQ_STORE.load(index_dir)
        gen = meta["generations"]
        PQ_STORE.clear(index_dir, meta)
        n_before = sum(
            len(list(g.rglob("*.parquet"))) for g in PQ_STORE.live(index_dir, meta)
        )
        from dataset_dedupe_estimator_spark.plans._tombstones import (
            minus_tombstones,
            tombstones_df,
        )

        df = minus_tombstones(  # physically purge deleted vectors
            PQ_STORE.read_each(spark, index_dir, meta),
            tombstones_df(spark, index_dir, meta, "vec_id"),
            "vec_id",
        )
        out = PQ_STORE.gen_path(index_dir, gen)
        (
            df.repartition(int(files_per_cell), "cell")
            .write.partitionBy("cell")
            .parquet(str(out))
        )
        n_rows = _pq_count(spark, [str(out)])
        PQ_STORE.commit_compaction(index_dir, meta, gen)
        n_after = len(list(out.rglob("*.parquet")))
    return {"rows": n_rows, "files_before": n_before, "files_after": n_after}
