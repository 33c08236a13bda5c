"""Command-line surface — parity with the reference's `de` CLI
(de/cli.py): dedup, synthetic, stats, param-impact, page-chunks, checkout.

Usage: python -m dataset_dedupe_estimator_spark <command> [...]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
from pathlib import Path

import numpy as np


def _spark(args):
    from dataset_dedupe_estimator_spark import get_spark

    return get_spark(app_name=f"dde-{args.command}")


def _humanize(n):
    from dataset_dedupe_estimator_spark.plans.display import humanize

    return humanize(n)


def cmd_dedup(args) -> int:
    """`de dedup f1 f2 ...` (de/cli.py:241-251): estimate dedup across files.

    --scheme / --probe-bytes expose the chunker parameterization: exact
    gearhash boundaries (bit-identical to the serial hasher) vs the
    default windowed scheme, and the zlib compressibility-probe cap."""
    import dataclasses

    from dataset_dedupe_estimator_spark.plans.estimate import ESTIMATE_PARAMS, estimate
    from dataset_dedupe_estimator_spark.operators.chunker import chunk_files
    from dataset_dedupe_estimator_spark.viz import write_provenance_pngs

    paths = [p for pat in args.files for p in sorted(glob.glob(pat))] or args.files
    spark = _spark(args)
    from dataset_dedupe_estimator_spark.operators.chunker import XET_PARAMS

    params = dataclasses.replace(
        ESTIMATE_PARAMS,
        scheme=args.scheme,
        compress_probe_bytes=args.probe_bytes,
    )
    # the xet pass shares the boundary scheme so the single-read shared
    # scan stays engaged under --scheme gear
    res = estimate(
        spark,
        paths,
        params=params,
        xet_params=dataclasses.replace(XET_PARAMS, scheme=args.scheme),
        with_xet=not args.no_xet,
    )
    if args.pngs:
        chunks = chunk_files(spark, paths)
        write_provenance_pngs(chunks, args.pngs)
    if args.diff_html:
        from dataset_dedupe_estimator_spark.viz import multidoc_diff_html

        chunks = chunk_files(spark, paths)
        Path(args.diff_html).write_text(multidoc_diff_html(chunks))
        print(f"diff written to {args.diff_html}")
    print(
        f"files: {res['numfiles']}  total: {_humanize(res['total_len'])}  "
        f"unique: {_humanize(res['chunk_bytes'])}  "
        f"compressed unique: {_humanize(res['compressed_chunk_bytes'])}"
    )
    print(f"dedup ratio: {res['dedup_ratio']:.2%}")
    if "xet_dedup_ratio" in res:
        print(f"xet dedup ratio: {res['xet_dedup_ratio']:.2%}")
    if args.trend:
        from dataset_dedupe_estimator_spark.plans.estimate import dedup_trend

        print("\nfile  bytes        novel        cum ratio")
        for r in dedup_trend(spark, paths, params=params).collect():
            print(
                f"{r.file_idx:>4}  {_humanize(r.file_bytes):>10}  "
                f"{_humanize(r.novel_bytes):>10}  {r.cum_dedup_ratio:.2%}"
            )
    return 0


def _maybe_html(args, rdf) -> None:
    """--html PATH: write the plot_bars-equivalent SVG chart
    (de/display.py:91-137)."""
    out = getattr(args, "html", None)
    if out:
        from dataset_dedupe_estimator_spark.plans.charts import grouped_bar_html

        Path(out).write_text(grouped_bar_html(rdf))
        print(f"chart written to {out}")


def cmd_rewrite(args) -> int:
    """`de rewrite FILES...` (de/cli.py:253-259): rewrite each named
    parquet to ``<stem>-dedup.parquet`` NEXT TO the input (the
    reference's ParquetCpp(use_cdc=True) one-off). CDC-chunked when
    pyarrow supports ``use_content_defined_chunking`` (>= 21); in
    older environments the CDC format raises its labeled seam — pass
    ``--plain`` to rewrite with the vanilla parquet writer (same
    naming, same single-file accounting unit)."""
    from dataset_dedupe_estimator_spark.sources.formats import (
        CdcParams,
        CdcParquetFormat,
        ParquetFormat,
    )

    spark = _spark(args)
    if args.plain:
        fmt = ParquetFormat(compression=args.compression)
    else:
        fmt = CdcParquetFormat(
            compression=args.compression,
            cdc=CdcParams(
                min_chunk_size=args.cdc_min, max_chunk_size=args.cdc_max
            ),
        )
    import shutil

    for path in args.files:
        p = Path(path)
        try:
            dest = fmt.write(spark, p.stem + "-dedup", p, p.parent)
        except NotImplementedError as e:
            print(f"rewrite: {e}", file=sys.stderr)
            print(
                "rewrite: pass --plain to rewrite with the vanilla "
                "parquet writer",
                file=sys.stderr,
            )
            return 2
        # exact reference naming (de/cli.py:253-259): <stem>-dedup.parquet
        # — derive_path embeds format params for comparison runs; the
        # one-off rewrite doesn't want them
        final = p.parent / f"{p.stem}-dedup.parquet"
        if dest != final:
            shutil.move(dest, final)
        print(final)
    return 0


def cmd_render_readme(args) -> int:
    """`de render-readme TEMPLATE` (de/cli.py:262-270): render a
    jinja2 README template and write it NEXT TO the template with the
    final suffix stripped (README.md.j2 -> README.md). The reference
    renders with an EMPTY context, so only self-contained expressions
    ever resolve (jinja2 renders undefined names as empty strings).

    jinja2 is used when importable; without it the fallback renders
    the same no-context subset: ``{{ expression }}`` evaluated as a
    Python expression (undefined names -> empty string, like jinja2's
    default Undefined); ``{%`` statement blocks and non-Python
    expression syntax refuse with a labeled seam (install jinja2 for
    full template semantics). A suffix-less template would render onto
    itself — refused instead of silently destroying the template."""
    import re

    src = Path(args.template)
    dest = src.with_suffix("")
    if dest == src:
        print(
            f"render-readme: {src} has no suffix to strip — rendering "
            "would overwrite the template itself; rename it (e.g. "
            "README.md.j2)",
            file=sys.stderr,
        )
        return 2
    text = src.read_text()
    try:
        from jinja2 import Template

        rendered = Template(text).render()
    except ImportError:
        if re.search(r"{%", text):
            print(
                "render-readme: template uses {% statement %} blocks — "
                "full jinja2 semantics need the jinja2 package (labeled "
                "environment seam; the {{ expression }} subset renders "
                "without it)",
                file=sys.stderr,
            )
            return 2

        class _Refuse(Exception):
            pass

        def _expr(m: "re.Match[str]") -> str:
            expr = m.group(1).strip()
            try:
                return str(eval(expr, {"__builtins__": {}}, {}))
            except NameError:
                return ""  # jinja2 renders undefined names as ''
            except Exception as e:  # jinja-only syntax / runtime error
                raise _Refuse(f"{expr!r}: {type(e).__name__}: {e}") from e

        try:
            rendered = re.sub(r"{{(.*?)}}", _expr, text, flags=re.S)
        except _Refuse as e:
            print(
                f"render-readme: expression outside the Python-evaluable "
                f"subset ({e}) — full jinja2 semantics need the jinja2 "
                "package (labeled environment seam)",
                file=sys.stderr,
            )
            return 2
    dest.write_text(rendered)
    print(dest)
    return 0


def cmd_synthetic(args) -> int:
    """`de synthetic -s S -e E SCHEMA` (de/cli.py:65-145): generate variants,
    write them in every format, compare dedup ratios."""
    from dataset_dedupe_estimator_spark.operators.synthetic import DataGenerator, finalize
    from dataset_dedupe_estimator_spark.plans.compare import (
        compare_formats_tables,
        results_df,
    )
    from dataset_dedupe_estimator_spark.plans.display import markdown_report
    from dataset_dedupe_estimator_spark.sources.formats import default_formats

    schema = json.loads(args.schema)
    e = args.edits
    edit_points = list(np.linspace(0.5 / e, 1 - 0.5 / e, e))  # de/cli.py:94
    spark = _spark(args)
    gen = DataGenerator(schema, seed=args.seed)
    tables = gen.generate_synthetic_tables(
        spark,
        args.size,
        edit_points,
        append_ratio=0.05,
        update_columns=list(schema) if args.update_columns else None,
        edit_size=args.edit_size,
    )
    original = finalize(tables["original"]).cache()
    groups = {
        f"edit{i}-{name}": {"original": original, name: finalize(df)}
        for i, (name, df) in enumerate(t for t in tables.items() if t[0] != "original")
    }
    formats = default_formats(with_json=args.with_json, with_sqlite=args.with_sqlite, with_orc=getattr(args, "with_orc", False))
    results = compare_formats_tables(spark, formats, groups, Path(args.directory))
    rdf = results_df(spark, results)
    print(markdown_report(spark, rdf))
    _maybe_html(args, rdf)
    return 0


def cmd_stats(args) -> int:
    """`de stats DIR` (de/cli.py:204-228): rewrite every parquet in DIR into
    every format; compare cross-file dedup per format."""
    from dataset_dedupe_estimator_spark.plans.compare import (
        compare_formats_tables,
        results_df,
    )
    from dataset_dedupe_estimator_spark.plans.display import markdown_report
    from dataset_dedupe_estimator_spark.sources.formats import default_formats

    paths = sorted(glob.glob(f"{args.directory}/*.parquet"))
    if not paths:
        print(f"no parquet files in {args.directory}", file=sys.stderr)
        return 1
    spark = _spark(args)
    members = {Path(p).stem: p for p in paths}
    groups = {"combined": members}
    formats = default_formats(with_json=args.with_json, with_sqlite=args.with_sqlite, with_orc=getattr(args, "with_orc", False))
    results = compare_formats_tables(spark, formats, groups, Path(args.out))
    rdf = results_df(spark, results)
    print(markdown_report(spark, rdf))
    if args.page_histogram:
        from pyspark.sql import functions as F

        from dataset_dedupe_estimator_spark.sources.pagemeta import (
            chunk_size_histogram,
            page_meta,
        )

        written = sorted(str(p) for p in Path(args.out).rglob("*.parquet"))
        if written:
            print("\n### data-page size histogram (written parquet contenders)\n")
            meta = (
                page_meta(spark, written)
                .withColumnRenamed("uncompressed", "total_uncompressed")
                .filter(F.col("page_type").isin("data", "data_v2"))
            )
            for r in chunk_size_histogram(meta, args.bucket).collect():
                bar = "#" * min(int(r.n_chunks), 60)
                print(f"{_humanize(r.bucket_start):>12} | {r.n_chunks:6d} {bar}")
    _maybe_html(args, rdf)
    return 0


def cmd_param_impact(args) -> int:
    """`de param-impact` (de/cli.py:324-349): row-group/page-size sweep."""
    from dataset_dedupe_estimator_spark.plans.compare import compare_formats
    from dataset_dedupe_estimator_spark.sources.formats import ParquetFormat

    spark = _spark(args)
    table = spark.read.parquet(args.file)
    contenders = [
        ParquetFormat(compression=args.compression, row_group_size=2**i)
        for i in range(args.min_pow, args.max_pow + 1)
    ]
    results = compare_formats(
        spark, ParquetFormat(compression=args.compression), contenders, table, Path(args.out)
    )
    for r in sorted(results, key=lambda r: r.format):
        print(f"{r.format}: dedup_ratio={r.dedup_ratio:.2%}")
    return 0


def cmd_page_chunks(args) -> int:
    """`de page-chunks` (de/cli.py:273-307): physical-layout histogram.

    ``--pages`` switches from column-chunk to true per-data-page
    granularity (parquet-layout parity)."""
    from dataset_dedupe_estimator_spark.sources.pagemeta import (
        chunk_size_histogram,
        page_chunk_meta,
        page_meta,
    )

    paths = [p for pat in args.files for p in sorted(glob.glob(pat))] or args.files
    spark = _spark(args)
    if getattr(args, "pages", False):
        from pyspark.sql import functions as F

        meta = page_meta(spark, paths).withColumnRenamed(
            "uncompressed", "total_uncompressed"
        ).filter(F.col("page_type").isin("data", "data_v2"))
    else:
        meta = page_chunk_meta(spark, paths)
    for r in chunk_size_histogram(meta, args.bucket).collect():
        bar = "#" * min(int(r.n_chunks), 80)
        print(f"{_humanize(r.bucket_start):>12} | {r.n_chunks:6d} {bar}")
    return 0


def cmd_sql(args) -> int:
    """Ad-hoc SQL over a scale-factor directory's tables; --chunks GLOB
    additionally registers the CDC chunk store (`chunks`, `dedup_map`
    views); --table NAME=ROOT[@VERSION] registers a versioned-table
    snapshot (sources/versioned.py) pinned at the given version."""
    from dataset_dedupe_estimator_spark.catalog import (
        register_chunks,
        register_testdata,
    )

    spark = _spark(args)
    register_testdata(spark, args.sf_dir)
    if args.chunks:
        chunk_paths = [p for pat in args.chunks for p in sorted(glob.glob(pat))] or args.chunks
        register_chunks(spark, chunk_paths)
    # --table snapshots register LAST: a pinned snapshot must win a name
    # collision with a live testdata table, not be clobbered by it
    for spec in args.table or []:
        from dataset_dedupe_estimator_spark.sources.versioned import register_view

        name, _, rest = spec.partition("=")
        root, _, ver = rest.partition("@")
        if not name or not root or (ver and not ver.isdigit()):
            print(f"--table wants NAME=ROOT[@VERSION], got {spec!r}", file=sys.stderr)
            return 2
        register_view(spark, root, name, int(ver) if ver else None)
    df = spark.sql(args.query)
    df.show(args.limit, truncate=False)
    return 0


def cmd_corpus(args) -> int:
    """LLM-corpus hygiene report over a testdata directory: survival
    pipeline (dedup ∧ quality ∧ repetition per source) and near-duplicate
    cluster summary — the CLI face of the training-data extensions."""
    from dataset_dedupe_estimator_spark.queries.dedupe_text import (
        dedup_near_groups,
    )
    from dataset_dedupe_estimator_spark.queries.text_analysis import (
        corpus_survival_pipeline,
    )

    spark = _spark(args)
    print("## survival by source")
    for r in corpus_survival_pipeline(spark, args.sf_dir).collect():
        print(
            f"{r.source:>8}  docs={r.n_docs:<6} survivors={r.n_survivors:<6} "
            f"dup={r.n_dropped_dup:<4} lowq={r.n_dropped_quality:<4} "
            f"rate={r.survival_rate:.1%}"
        )
    from pyspark.sql import functions as F

    from dataset_dedupe_estimator_spark.queries.text_analysis import (
        effective_token_budget,
    )

    budget = effective_token_budget(spark, args.sf_dir).agg(
        F.sum("raw_tokens").alias("raw"), F.sum("effective_tokens").alias("eff")
    ).collect()[0]
    if budget.raw:
        print(
            f"\ntoken budget: raw={budget.raw}  effective={budget.eff}  "
            f"retention={budget.eff / budget.raw:.1%}"
        )

    print("\n## near-duplicate clusters (MinHash-LSH + connected components)")
    rows = dedup_near_groups(spark, args.sf_dir).collect()
    for r in rows[: args.limit]:
        print(f"cluster @doc {r.component:<8} size={r.n_docs}")
    if len(rows) > args.limit:
        print(f"... {len(rows) - args.limit} more clusters")

    from dataset_dedupe_estimator_spark.queries.corpus_dedup import (
        dedup_spans,
        mixture_sample,
        sequence_pack,
    )
    from pyspark.sql import functions as F

    print("\n## sub-document span dedup (8-word spans, first-occurrence-wins)")
    span = dedup_spans(spark, args.sf_dir).agg(
        F.sum("n_spans").alias("spans"), F.sum("n_kept").alias("kept")
    ).collect()[0]
    if span.spans:  # sums are NULL over an empty documents table
        print(
            f"spans={span.spans}  kept={span.kept}  "
            f"duplicated={(span.spans - span.kept) / span.spans:.1%}"
        )
    else:
        print("no documents")

    print("\n## exact-substring spans (sliding 8-grams, interval-merged)")
    from dataset_dedupe_estimator_spark.queries.corpus_dedup import (
        dedup_substring_spans,
    )

    sub = dedup_substring_spans(spark, args.sf_dir).agg(
        F.sum("n_tokens").alias("toks"),
        F.sum("n_spans").alias("spans"),
        F.sum("dup_tokens").alias("dup"),
    ).collect()[0]
    if sub.toks:
        print(
            f"tokens={sub.toks}  merged spans={sub.spans}  "
            f"duplicated tokens={sub.dup} ({sub.dup / sub.toks:.1%})"
        )
    else:
        print("no documents")

    print("\n## sequence packing (256-token sequences)")
    packed = sequence_pack(spark, args.sf_dir)
    stats = packed.agg(
        F.count(F.lit(1)).alias("n_seq"),
        F.sum("n_tokens").alias("tokens"),
        F.avg("n_docs").alias("avg_docs"),
    ).collect()[0]
    if stats.n_seq:
        print(
            f"sequences={stats.n_seq}  tokens={stats.tokens}  "
            f"avg docs/seq={stats.avg_docs:.2f}"
        )
    else:
        print("no documents")

    print("\n## mixture sample (source-weighted)")
    for r in (
        mixture_sample(spark, args.sf_dir)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source")
        .collect()[: args.limit]
    ):
        print(f"{r.source:>8}  sampled={r.n}")

    if getattr(args, "materialize", None):
        from dataset_dedupe_estimator_spark.queries.text_analysis import (
            materialize_survivors,
        )

        n_in, n_out = materialize_survivors(
            spark,
            args.sf_dir,
            args.materialize,
            strip_spans=getattr(args, "strip_spans", False),
        )
        print(
            f"\n## materialized cleaned corpus → {args.materialize}\n"
            f"input docs={n_in}  written survivors={n_out}"
            + ("  (duplicate spans stripped)" if getattr(args, "strip_spans", False) else "")
        )

    print("\n## semantic dedup (SemDeDup clusters over embeddings)")
    from dataset_dedupe_estimator_spark.queries.similarity import semdedup_clusters

    sem = semdedup_clusters(spark, args.sf_dir).agg(
        F.sum("n_vecs").alias("vecs"), F.sum("n_dropped").alias("dropped")
    ).collect()[0]
    if sem.vecs:
        print(
            f"vectors={sem.vecs}  semantic dups dropped={sem.dropped} "
            f"({sem.dropped / sem.vecs:.1%})"
        )
    else:
        print("no embeddings")

    print("\n## token frequency sketch (count-min, top overestimates)")
    from dataset_dedupe_estimator_spark.queries.dedupe_text import cms_token_counts

    for r in sorted(
        cms_token_counts(spark, args.sf_dir).collect(),
        key=lambda r: (-r.overestimate, r.token),
    )[:5]:
        print(
            f"{r.token:>12}  exact={r.exact:<6} cms={r.cms_estimate:<6} "
            f"over={r.overestimate}"
        )

    print("\n## paraphrase pairs (embedding near-dup, lexically distinct)")
    from dataset_dedupe_estimator_spark.queries.similarity import (
        semantic_vs_lexical_pairs,
    )

    pstats = semantic_vs_lexical_pairs(spark, args.sf_dir).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((~F.col("lexical_dup")).cast("long")).alias("n_para"),
    ).collect()[0]
    print(f"pairs={pstats.n}  paraphrase-only={pstats.n_para or 0}")

    print("\n## train/val/test split (hash-bucket 80/10/10) + leakage")
    from dataset_dedupe_estimator_spark.queries.splits import (
        cross_split_leakage,
        split_assign,
        split_purge_eval,
    )

    census = (
        split_assign(spark, args.sf_dir)
        .groupBy("split")
        .agg(F.sum("n_docs").alias("docs"), F.sum("n_tokens").alias("tokens"))
        .orderBy("split")
        .collect()
    )
    for r in census:
        print(f"{r.split:>8}  docs={r.docs:<6} tokens={r.tokens}")
    leaks = cross_split_leakage(spark, args.sf_dir).collect()
    n_purge = split_purge_eval(spark, args.sf_dir).count()
    if leaks:
        combos = ", ".join(f"{r.splits}:{r.n_leaked_docs}" for r in leaks)
        print(f"leakage: {combos}  → purge {n_purge} eval docs")
    else:
        print("leakage: none")
    return 0


def cmd_events(args) -> int:
    """`de events`: event-stream analytics report — conversion funnel,
    weekly retention cohorts, and sessionization summary over the events
    table."""
    from dataset_dedupe_estimator_spark.queries.events import (
        events_funnel,
        events_retention_cohorts,
        events_sessionize,
    )
    from pyspark.sql import functions as F

    spark = _spark(args)
    print("## conversion funnel (view → click → purchase)")
    r = events_funnel(spark, args.sf_dir).collect()[0]
    print(
        f"view={r.n_view}  click-after-view={r.n_click} ({r.view_to_click:.1%})  "
        f"purchase-after-click={r.n_purchase} ({r.click_to_purchase:.1%})"
    )

    print("\n## weekly retention by first-seen cohort")
    for row in events_retention_cohorts(spark, args.sf_dir).collect():
        print(
            f"cohort {row.cohort_day} (n={row.cohort_size})  "
            f"week+{row.week_offset}: {row.n_active} active "
            f"({row.n_active / row.cohort_size:.0%})"
        )

    print("\n## sessions (30-min gap, ≥3 events)")
    s = (
        events_sessionize(spark, args.sf_dir)
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("events"),
            F.avg("n_events").alias("avg_events"),
        )
        .collect()[0]
    )
    print(
        f"sessions={s.n_sessions}  events={s.events}  "
        f"avg events/session={s.avg_events:.1f}"
    )
    return 0


def cmd_compact(args) -> int:
    """`de compact SRC DEST`: rewrite a directory of small parquet files
    into ~target-MB files (optionally sort-clustered on keys so row-group
    stats prune future scans)."""
    from dataset_dedupe_estimator_spark.sources.compact import compact_parquet

    spark = _spark(args)
    summary = compact_parquet(
        spark,
        args.src,
        args.dest,
        target_mb=args.target_mb,
        sort_by=args.sort_by,
        zorder_by=args.zorder_by,
        compression=args.compression,
    )
    print(
        f"compacted {summary['files_in']} files ({summary['bytes_in'] / 1e6:.1f} MB) "
        f"→ {summary['files_out']} files ({summary['bytes_out'] / 1e6:.1f} MB), "
        f"{summary['rows']} rows"
    )
    return 0



def _delete_keys(spark, args, key_col):
    """Keys for an index `delete` action: --ids "1,2,3" (ints where they
    parse, raw strings otherwise) or a positional parquet path of keys.
    An index whose key column is a STRING of digits must pass
    --string-ids (or the parquet form): the int guess would coerce
    '0123' to 123, tombstone the wrong key, and report success while
    suppressing nothing. Returns a list/DataFrame for
    plans._tombstones.normalize_ids, or None after a usage error."""
    if getattr(args, "ids", None):
        if getattr(args, "string_ids", False):
            return args.ids.split(",")
        out = []
        for v in args.ids.split(","):
            try:
                out.append(int(v))
            except ValueError:
                out.append(v)
        return out
    src = getattr(args, "docs", None) or getattr(args, "vectors", None)
    if src and os.path.exists(src.split("*")[0].rstrip("/") or src):
        return spark.read.parquet(src).select(key_col)
    print(
        f"delete: pass --ids K1,K2,... or a parquet path of {key_col}s",
        file=sys.stderr,
    )
    return None


def cmd_index(args) -> int:
    """`de index build|update|stats IDX [FILES...]`: persistent chunk-hash
    index (plans/chunk_index.py) — build generation 0 from a snapshot,
    admit later snapshots O(novel), report the accumulated store."""
    from dataset_dedupe_estimator_spark.plans.chunk_index import (
        build_index,
        index_stats,
        update_index,
    )

    spark = _spark(args)
    if args.action == "delete":
        from dataset_dedupe_estimator_spark.plans.chunk_index import delete_chunks

        if args.ids is None and not args.files:
            print("delete: pass --ids H1,H2,... or a parquet of hashes", file=sys.stderr)
            return 2
        keys = (
            [int(v) if v.lstrip("-").isdigit() else v for v in args.ids.split(",")]
            if args.ids
            else spark.read.parquet(*args.files).select("hash")
        )
        st = delete_chunks(spark, args.index_dir, keys)
        print(f"{st['tombstoned']} chunk hash(es) tombstoned")
        return 0
    if args.action == "compact":
        from dataset_dedupe_estimator_spark.plans.chunk_index import compact_index

        st = compact_index(spark, args.index_dir)
        print(
            f"compacted {st['merged_generations']} generations → "
            f"gen {st['generation']} ({st['chunks']} chunks)"
        )
        return 0
    if args.action in ("build", "update"):
        files = [p for pat in args.files for p in sorted(glob.glob(pat))] or args.files
        if not files:
            print("no input files", file=sys.stderr)
            return 2
        if args.action == "build":
            st = build_index(spark, files, args.index_dir)
            print(
                f"gen 0: {st['novel_chunks']} chunks, "
                f"{_humanize(st['novel_bytes'])} admitted"
            )
        else:
            st = update_index(spark, files, args.index_dir)
            print(
                f"gen {st['generation']}: snapshot {_humanize(st['snapshot_bytes'])} "
                f"→ transfer {_humanize(st['novel_bytes'])} "
                f"({st['transfer_ratio']:.1%}), {st['novel_chunks']} novel chunks"
            )
        return 0
    r = index_stats(spark, args.index_dir).collect()[0]
    print(
        f"generations={r.generations}  unique_chunks={r.unique_chunks}  "
        f"unique={_humanize(r.unique_bytes)}  compressed={_humanize(r.compressed_bytes)}"
    )
    return 0


def cmd_lsh_index(args) -> int:
    """`de lsh-index build|admit|stats|stream IDX ...`: persistent
    MinHash-LSH document index (plans/lsh_index.py) — near-dup
    candidates for every admitted batch against ALL history, O(batch)
    per admission. `stream` drains a parquet inbox exactly-once
    (streaming/incremental.admit_docs_stream)."""
    from dataset_dedupe_estimator_spark.plans.lsh_index import (
        admit_docs,
        build_lsh_index,
        index_stats,
    )

    if args.action in ("build", "admit", "query", "stream") and not args.docs:
        print(f"lsh-index {args.action}: missing docs path", file=sys.stderr)
        return 2
    if args.action == "stream" and not args.checkpoint:
        # a temp checkpoint would silently replay the inbox on every run,
        # breaking the exactly-once admission contract
        print("lsh-index stream: --checkpoint is required", file=sys.stderr)
        return 2

    spark = _spark(args)

    def _docs(path):
        return spark.read.parquet(path).select("doc_id", "text")

    if args.action == "build":
        st = build_lsh_index(spark, _docs(args.docs), args.index_dir)
        print(f"gen 0: {st['docs']} docs indexed")
        return 0
    if args.action == "admit":
        cands, st = admit_docs(spark, _docs(args.docs), args.index_dir)
        if args.pairs_out:
            cands.write.mode("append").parquet(args.pairs_out)
        print(
            f"gen {st['generation']}: {st['docs']} docs admitted, "
            f"{st['candidate_pairs']} near-dup candidate pairs"
        )
        return 0
    if args.action == "delete":
        keys = _delete_keys(spark, args, "doc_id")
        if keys is None:
            return 2
        from dataset_dedupe_estimator_spark.plans.lsh_index import delete_docs

        st = delete_docs(spark, args.index_dir, keys)
        print(f"{st['denylisted']} doc id(s) tombstoned")
        return 0
    if args.action == "query":
        from dataset_dedupe_estimator_spark.plans.lsh_index import query_docs

        from pyspark.sql import functions as F

        hits = query_docs(spark, _docs(args.docs), args.index_dir).persist()
        if args.pairs_out:
            hits.write.mode("append").parquet(args.pairs_out)
        n, n_probes = hits.agg(
            F.count(F.lit(1)), F.countDistinct("probe_doc_id")
        ).collect()[0]
        hits.unpersist()
        print(f"{n} near-dup hits across {n_probes} probe docs (read-only)")
        return 0
    if args.action == "compact":
        from dataset_dedupe_estimator_spark.plans.lsh_index import compact_lsh_index

        st = compact_lsh_index(spark, args.index_dir)
        print(
            f"compacted {st['merged_generations']} generations → "
            f"gen {st['generation']} ({st['band_rows']} band rows)"
        )
        return 0
    if args.action == "stream":
        from dataset_dedupe_estimator_spark.streaming.incremental import (
            admit_docs_stream,
        )

        reps = admit_docs_stream(
            spark, args.docs, args.index_dir, args.checkpoint, args.pairs_out
        )
        for st in reps:
            print(
                f"gen {st['generation']}: {st['docs']} docs, "
                f"{st['candidate_pairs']} pairs"
            )
        print(f"{len(reps)} generation(s) admitted")
        return 0
    st = index_stats(spark, args.index_dir)
    print(
        f"generations={st['generations']}  docs={st['docs']}  "
        f"band_rows={st['band_rows']}"
    )
    return 0


def cmd_gram_index(args) -> int:
    """`de gram-index build|admit|query|stats|stream|compact IDX ...`:
    persistent sliding-gram index (plans/gram_index.py) — exact-substring
    dedup at ingest: each admitted batch's token spans that already exist
    anywhere in history come back interval-merged, O(batch novel grams)
    per admission. `stream` drains a parquet inbox exactly-once
    (streaming/incremental.admit_grams_stream)."""
    from dataset_dedupe_estimator_spark.plans.gram_index import (
        admit_docs,
        build_gram_index,
        compact_gram_index,
        index_stats,
        query_docs,
    )

    if args.action in ("build", "admit", "query", "stream") and not args.docs:
        print(f"gram-index {args.action}: missing docs path", file=sys.stderr)
        return 2
    if args.action == "stream" and not args.checkpoint:
        # a temp checkpoint would silently replay the inbox on every run,
        # breaking the exactly-once admission contract
        print("gram-index stream: --checkpoint is required", file=sys.stderr)
        return 2

    spark = _spark(args)

    def _docs(path):
        return spark.read.parquet(path).select("doc_id", "text")

    def _span_summary(spans):
        from pyspark.sql import functions as F

        r = spans.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("id").alias("docs"),
            F.sum(F.col("span_end") - F.col("span_start")).alias("toks"),
        ).collect()[0]
        return r["n"], r["docs"], r["toks"] or 0

    if args.action == "build":
        st = build_gram_index(spark, _docs(args.docs), args.index_dir, k=args.k)
        print(f"gen 0: {st['novel_grams']} unique {args.k}-grams indexed")
        return 0
    if args.action == "admit":
        from pyspark.sql import functions as F

        spans, st = admit_docs(spark, _docs(args.docs), args.index_dir)
        if args.spans_out:
            # keep the spans-sink schema uniform with the streaming path
            # (admit_grams_stream appends the admitting generation)
            spans.withColumn("generation", F.lit(st["generation"])).write.mode(
                "append"
            ).parquet(args.spans_out)
        n, docs_hit, toks = _span_summary(spans)
        print(
            f"gen {st['generation']}: {st['docs']} docs admitted, "
            f"{st['novel_grams']} novel grams; {n} duplicate spans "
            f"({toks} tokens) across {docs_hit} docs"
        )
        return 0
    if args.action == "delete":
        keys = _delete_keys(spark, args, "doc_id")
        if keys is None:
            return 2
        from dataset_dedupe_estimator_spark.plans.gram_index import delete_docs

        st = delete_docs(spark, args.index_dir, keys)
        print(f"{st['denylisted']} doc id(s) tombstoned")
        return 0
    if args.action == "query":
        from pyspark.sql import functions as F

        from dataset_dedupe_estimator_spark.plans.gram_index import STORE

        spans = query_docs(spark, _docs(args.docs), args.index_dir).persist()
        if args.spans_out:
            # read-only probe: stamp the generation the index was queried
            # at, keeping the shared spans-sink schema uniform
            queried_gen = STORE.load(args.index_dir)["generations"] - 1
            spans.withColumn("generation", F.lit(queried_gen)).write.mode(
                "append"
            ).parquet(args.spans_out)
        n, docs_hit, toks = _span_summary(spans)
        spans.unpersist()
        print(f"{n} known spans ({toks} tokens) across {docs_hit} probe docs (read-only)")
        return 0
    if args.action == "compact":
        st = compact_gram_index(spark, args.index_dir)
        print(
            f"compacted {st['merged_generations']} generations → "
            f"gen {st['generation']} ({st['grams']} grams)"
        )
        return 0
    if args.action == "stream":
        from dataset_dedupe_estimator_spark.streaming.incremental import (
            admit_grams_stream,
        )

        reps = admit_grams_stream(
            spark, args.docs, args.index_dir, args.checkpoint, args.spans_out
        )
        for st in reps:
            print(
                f"gen {st['generation']}: {st['docs']} docs, "
                f"{st['novel_grams']} novel grams, "
                f"{st['docs_with_dup_spans']} docs with dup spans"
            )
        print(f"{len(reps)} generation(s) admitted")
        return 0
    st = index_stats(spark, args.index_dir)
    print(
        f"k={st['k']}  generations={st['generations']}  "
        f"grams={st['total_grams']}  admissions={st['admissions']}"
    )
    return 0


def cmd_pq_index(args) -> int:
    """`de pq-index build|search IDX ...`: persistent IVF-PQ ANN index
    (operators/ann.py:PqIndex) — trained coarse cells + PQ codes
    partitioned by cell; queries scan only the probed cells' code files
    and never read a float vector."""
    from dataset_dedupe_estimator_spark.operators.ann import PqIndex

    spark = _spark(args)
    if args.action == "build":
        if not args.vectors:
            print("pq-index build: missing vectors path", file=sys.stderr)
            return 2
        emb = spark.read.parquet(args.vectors)
        PqIndex.build(emb, args.index_dir, k=args.cells, ks=args.codes, seed=args.seed)
        from dataset_dedupe_estimator_spark.operators.ann import PQ_STORE

        n = PQ_STORE.load(args.index_dir)["total"]
        print(f"indexed {n} vectors: {args.cells} cells, 8x{args.codes} codebooks")
        return 0
    if args.action == "add":
        from dataset_dedupe_estimator_spark.operators.ann import pq_index_add

        if not args.vectors:
            print("pq-index add: missing vectors path", file=sys.stderr)
            return 2
        st = pq_index_add(spark, args.index_dir, spark.read.parquet(args.vectors))
        print(f"admitted {st['admitted']} vectors ({st['total']} total)")
        return 0
    if args.action == "delete":
        from dataset_dedupe_estimator_spark.operators.ann import pq_index_delete

        keys = _delete_keys(spark, args, "vec_id")
        if keys is None:
            return 2
        st = pq_index_delete(spark, args.index_dir, keys)
        print(f"{st['deleted']} vector(s) deleted ({st['total']} remain)")
        return 0
    if args.action == "compact":
        from dataset_dedupe_estimator_spark.operators.ann import pq_index_compact

        st = pq_index_compact(spark, args.index_dir)
        print(f"compacted {st['files_before']} -> {st['files_after']} files ({st['rows']} rows)")
        return 0
    # search: the query vector is looked up by id from the source table
    if not (args.vectors and args.query_id is not None):
        print("pq-index search: need vectors path and --query-id", file=sys.stderr)
        return 2
    from pyspark.sql import functions as F

    idx = PqIndex.load(args.index_dir)
    vectors = spark.read.parquet(args.vectors)
    qrow = vectors.filter(F.col("vec_id") == args.query_id).head()
    if qrow is None:
        print(f"vec_id {args.query_id} not found", file=sys.stderr)
        return 2
    # the vectors table is at hand, so the default shortlist+exact-rerank
    # path applies (ADC-only is the emb=None mode for cold vectors)
    hits = idx.search(
        spark,
        [float(v) for v in qrow.embedding],
        topk=args.topk,
        nprobe=args.nprobe,
        emb=vectors,
    ).collect()
    for h in hits:
        print(
            f"vec_id={h.vec_id} cell={h.cell} adc={h.adc:.6f} cosine={h.cosine:.6f}"
        )
    return 0


def cmd_quality(args) -> int:
    """`de quality`: data-quality constraint report over a testdata
    directory (operators/quality_checks.py suite)."""
    from dataset_dedupe_estimator_spark.queries.advanced import data_quality_report

    spark = _spark(args)
    rows = data_quality_report(spark, args.sf_dir).collect()
    n_fail = 0
    for r in rows:
        mark = "ok " if r.passed else "FAIL"
        n_fail += 0 if r.passed else 1
        print(f"{mark}  {r.table_name:>10}.{r.check_id:<44} violations={r.n_violations}/{r.n_rows}")
    print(f"\n{len(rows) - n_fail}/{len(rows)} constraints hold")
    return 0 if args.allow_violations or n_fail == 0 else 1


def cmd_delta(args) -> int:
    """`de delta --old ... --new ...`: chunk-level upload-delta estimate —
    bytes each new file must transfer given the old snapshot's chunks
    (notebooks/parquet-cdc.md:814-838 measurement as an operator)."""
    from dataset_dedupe_estimator_spark.plans.estimate import upload_delta

    old = [p for pat in args.old for p in sorted(glob.glob(pat))] or args.old
    new = [p for pat in args.new for p in sorted(glob.glob(pat))] or args.new
    spark = _spark(args)
    rows = upload_delta(spark, old, new).collect()
    total = sum(r.file_bytes for r in rows)
    novel = sum(r.novel_bytes for r in rows)
    for r in rows:
        print(
            f"{r.path}: transfer {_humanize(r.novel_bytes)} of "
            f"{_humanize(r.file_bytes)} ({r.delta_ratio:.1%})"
        )
    if total:
        print(f"total: {_humanize(novel)} of {_humanize(total)} ({novel / total:.1%})")
    return 0


def cmd_bpe(args) -> int:
    """`de bpe DIR [--merges N] [--out merges.json] [--encode OUT]`:
    train a BPE merge table on the documents table (operators/bpe.py —
    one corpus scan, census-sized merge rounds), print it, optionally
    save it as JSON and/or tokenize the corpus with it into a parquet
    of per-doc token counts."""
    import json as jsonlib

    from dataset_dedupe_estimator_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        word_census,
    )

    spark = _spark(args)
    docs = spark.read.parquet(f"{args.dir}/documents.parquet")
    merges = bpe_train(word_census(docs), args.merges)
    for m in merges:
        print(
            f"#{m['rank']:<3d} {m['left']!r} + {m['right']!r} -> "
            f"{m['merged']!r}  (count {m['pair_count']})"
        )
    if args.out:
        with open(args.out, "w") as f:
            jsonlib.dump(merges, f, indent=1)
        print(f"wrote {len(merges)} merges to {args.out}")
    if args.encode:
        bpe_encode(docs, merges).write.mode("overwrite").parquet(args.encode)
        print(f"wrote token counts to {args.encode}")
    return 0


def cmd_media(args) -> int:
    """`de media DIR [--features OUT] [--glob PAT]`: scan a directory of
    media files, decode container metadata distributed
    (operators/multimodal.py — real PNG/JPEG/WAV/AVI/MP4 parsing), print
    a per-format census, and optionally write pixel/audio feature
    vectors to parquet (embedding-ready for the similarity operators)."""
    from pyspark.sql import functions as F

    from dataset_dedupe_estimator_spark.operators.multimodal import (
        MEDIA_DDL,
        decode_media,
        extract_features,
    )

    spark = _spark(args)
    meta_t = MEDIA_DDL.split("meta ", 1)[1]
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", args.glob)
        .load(args.dir)
        .select(
            F.monotonically_increasing_id().alias("media_id"),
            F.element_at(F.split(F.col("path"), "/"), -1).alias("kind"),
            F.col("content"),
            F.lit(None).cast(meta_t).alias("meta"),
        )
    )
    media = decode_media(raw)
    census = (
        media.groupBy(F.col("meta.fmt").alias("fmt"))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.octet_length("content")).alias("bytes"),
            F.avg(F.coalesce(F.col("meta.width"), F.lit(0))).alias("avg_w"),
            F.avg(F.coalesce(F.col("meta.sample_rate"), F.lit(0))).alias("avg_rate"),
        )
        .orderBy("fmt")
        .collect()
    )
    for r in census:
        print(
            f"{r.fmt or '?':8s} n={r.n_files:<6d} bytes={r.bytes:<12d} "
            f"avg_width={r.avg_w:.0f} avg_rate={r.avg_rate:.0f}"
        )
    if args.features:
        extract_features(media).write.mode("overwrite").parquet(args.features)
        print(f"wrote features to {args.features}")
    if args.near_dups:
        from dataset_dedupe_estimator_spark.operators.audio_dedup import (
            near_dup_audio,
        )
        from dataset_dedupe_estimator_spark.operators.image_dedup import (
            near_dup_images,
        )

        img_pairs = near_dup_images(media)
        aud_pairs = near_dup_audio(media).withColumnsRenamed(
            {"clip_a": "img_a", "clip_b": "img_b"}
        )
        pairs = img_pairs.withColumn("modality", F.lit("image")).unionByName(
            aud_pairs.withColumn("modality", F.lit("audio"))
        )
        pairs.write.mode("overwrite").parquet(args.near_dups)
        n_img, n_aud = img_pairs.count(), aud_pairs.count()
        print(
            f"wrote near-dup pairs to {args.near_dups} "
            f"(image={n_img}, audio={n_aud})"
        )
    return 0


def cmd_text_index(args) -> int:
    """`de text-index build|admit|search|stats|compact IDX ...`:
    persistent inverted BM25 index (plans/text_index.py) — keyword
    search at rest, no corpus scan per query; admission is O(batch) on
    the shared gen+manifest commit protocol."""
    from dataset_dedupe_estimator_spark.plans.text_index import (
        admit_docs,
        build_text_index,
        compact_text_index,
        index_stats,
        phrase_search,
        search,
    )

    if args.action in ("build", "admit", "stream") and not args.docs:
        print(f"text-index {args.action}: missing docs path", file=sys.stderr)
        return 2
    if args.action in ("search", "phrase") and not args.terms:
        print(f"text-index {args.action}: need --terms", file=sys.stderr)
        return 2
    if args.action == "stream" and not args.checkpoint:
        # a temp checkpoint would silently replay the inbox on every run,
        # breaking the exactly-once admission contract
        print("text-index stream: --checkpoint is required", file=sys.stderr)
        return 2
    spark = _spark(args)

    def _docs(path):
        return spark.read.parquet(path).select("doc_id", "text")

    if args.action == "build":
        st = build_text_index(
            spark, _docs(args.docs), args.index_dir, n_buckets=args.buckets
        )
        print(f"gen 0: {st['docs']} docs indexed")
        return 0
    if args.action == "admit":
        st = admit_docs(spark, _docs(args.docs), args.index_dir)
        if st["generation"] is None:
            print(f"nothing novel; index holds {st['n_docs']} docs")
        else:
            print(
                f"gen {st['generation']}: {st['docs']} docs admitted "
                f"({st['n_docs']} total)"
            )
        return 0
    if args.action == "search":
        hits = search(
            spark, args.index_dir, args.terms.split(","), top=args.topk
        ).collect()
        for h in hits:
            print(f"doc_id={h.doc_id} n_terms={h.n_terms} score={h.score:.4f}")
        return 0
    if args.action == "phrase":
        hits = phrase_search(
            spark, args.index_dir, args.terms.split(","), top=args.topk
        ).collect()
        for h in hits:
            print(f"doc_id={h.doc_id} occurrences={h.n_occurrences}")
        print(f"{len(hits)} docs contain the phrase")
        return 0
    if args.action == "delete":
        from dataset_dedupe_estimator_spark.plans.text_index import delete_docs

        keys = _delete_keys(spark, args, "doc_id")
        if keys is None:
            return 2
        st = delete_docs(spark, args.index_dir, keys)
        print(
            f"{st['deleted']} doc(s) deleted, {st['denylisted']} id(s) "
            f"tombstoned ({st['n_docs']} remain)"
        )
        return 0
    if args.action == "compact":
        st = compact_text_index(spark, args.index_dir)
        print(
            f"compacted {st['merged_generations']} generations → "
            f"gen {st['generation']} ({st['docs']} docs)"
        )
        return 0
    if args.action == "stream":
        from dataset_dedupe_estimator_spark.streaming.incremental import (
            admit_text_stream,
        )

        reps = admit_text_stream(spark, args.docs, args.index_dir, args.checkpoint)
        for st in reps:
            print(f"gen {st['generation']}: {st['docs']} docs admitted")
        print(f"{len(reps)} generation(s) admitted")
        return 0
    st = index_stats(args.index_dir)
    print(
        f"docs={st['n_docs']} tokens={st['sum_dl']} "
        f"generations={st['generations']} (floor {st['compacted_below']}) "
        f"buckets={st['n_buckets']}"
    )
    return 0


def cmd_search(args) -> int:
    """`de search DOCS.parquet TERM [TERM...] [--top K]`: BM25 keyword
    search over a documents parquet (queries/text_analysis.py
    bm25_frame — zero-shuffle plan; scoring rides the scan).

    With `--vectors EMB.parquet --query-id N`: hybrid retrieval — the BM25
    leg fuses with the cosine-neighbour leg of vector N by reciprocal rank
    (queries/similarity.py hybrid_rrf_frame)."""
    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    if args.vectors is not None:
        if args.query_id is None:
            print("search --vectors needs --query-id", file=sys.stderr)
            return 2
        from dataset_dedupe_estimator_spark.queries.similarity import hybrid_rrf_frame

        emb = spark.read.parquet(args.vectors)
        hits = hybrid_rrf_frame(
            docs, emb, tuple(args.terms), query_vec_id=args.query_id,
            pool=args.pool, top=args.top,
        ).collect()
        for r in hits:
            legs = []
            if r.lex_rank:
                legs.append(f"bm25 #{r.lex_rank}")
            if r.sem_rank:
                legs.append(f"cosine #{r.sem_rank}")
            print(f"doc {r.doc_id}  rrf={r.rrf:.6f}  ({', '.join(legs)})")
        if not hits:
            print("no documents matched")
        return 0
    from dataset_dedupe_estimator_spark.queries.text_analysis import bm25_frame

    hits = bm25_frame(docs, tuple(args.terms), top=args.top).collect()
    for r in hits:
        print(f"doc {r[0]}  score={r.score:.4f}  matched {r.n_terms}/{len(args.terms)} terms")
    if not hits:
        print("no documents matched")
    return 0


def cmd_sample(args) -> int:
    """`de sample DOCS.parquet OUT.parquet [--per-source K]`: layout-stable
    per-source sample — the K docs with the smallest md5(doc_id) per
    source (queries/splits.py stratified_sample_docs rationale: stable
    under growth/partitioning, unlike df.sample)."""
    from dataset_dedupe_estimator_spark.queries.splits import pick_per_source

    spark = _spark(args)
    docs = spark.read.parquet(args.docs)
    picked = pick_per_source(docs, args.per_source).drop("rnk")
    picked.write.mode("overwrite").parquet(args.out)
    per = picked.groupBy("source").count().orderBy("source").collect()
    for r in per:
        print(f"{r.source}: {r['count']} docs")
    print(f"wrote {sum(r['count'] for r in per)} docs to {args.out}")
    return 0


def cmd_table(args) -> int:
    """`de table {append,overwrite,history,read,vacuum} ROOT [SRC] ...`:
    versioned parquet table — reproducible snapshots + time travel
    (sources/versioned.py; the atomic commit point is the O_EXCL-linked
    log entry, so crashed commits are invisible orphans)."""
    from dataset_dedupe_estimator_spark.sources import versioned as vt

    def _parse_value(v):
        # ints, floats, else raw string (ISO dates/timestamps — versioned
        # typechecks them against the column's recorded stats kind)
        try:
            return int(v)
        except ValueError:
            pass
        try:
            return float(v)
        except ValueError:
            return v

    def _parse_where(specs):
        """Predicate list, or None after printing a usage error."""
        preds = []
        for s in specs:
            parts = s.split(":", 2)
            if len(parts) != 3:
                print(
                    f"--where {s!r}: expected COL:OP:VALUE "
                    "(e.g. id:between:100,200 or day:>=:2024-01-01)",
                    file=sys.stderr,
                )
                return None
            col, op, raw = parts
            vals = [_parse_value(v) for v in raw.split(",")]
            if op == "in":
                if not vals:
                    print(f"--where {s!r}: op 'in' needs >=1 value",
                          file=sys.stderr)
                    return None
                preds.append((col, op, tuple(vals)))
                continue
            want = 2 if op == "between" else 1
            if len(vals) != want:
                print(
                    f"--where {s!r}: op {op!r} takes {want} value(s), "
                    f"got {len(vals)}",
                    file=sys.stderr,
                )
                return None
            preds.append((col, op, tuple(vals) if op == "between" else vals[0]))
        return preds

    stats_cols = args.stats_columns.split(",") if args.stats_columns else None
    if args.action in ("append", "overwrite"):
        if not args.src:
            print("append/overwrite need a SRC parquet path", file=sys.stderr)
            return 2
        spark = _spark(args)
        df = spark.read.parquet(args.src)
        bloom_cols = (
            [c for c in args.bloom_columns.split(",") if c]
            if args.bloom_columns else None
        )
        if args.action == "append":
            entry = vt.append(
                args.root, df, num_files=args.files, stats_columns=stats_cols,
                change_feed=args.change_feed, bloom_columns=bloom_cols,
                allow_type_widening=args.allow_type_widening,
            )
        else:
            entry = vt.overwrite(
                args.root, df, num_files=args.files, stats_columns=stats_cols,
                bloom_columns=bloom_cols,
            )
        zm = f", zone maps on {entry['stats_columns']}" if entry.get("stats_columns") else ""
        if entry.get("bloom_columns"):
            zm += f", blooms on {entry['bloom_columns']}"
        if entry.get("change_feed"):
            zm += ", change feed ON"
        print(f"committed v{entry['version']} ({entry['action']}, dir {entry['dir']}{zm})")
    elif args.action == "detail":
        import json as _json

        print(
            _json.dumps(
                vt.describe_detail(
                    args.root, args.version, timestamp=args.as_of
                )
            )
        )
    elif args.action == "history":
        import datetime as _dt

        for e in vt.history(args.root):
            when = (
                _dt.datetime.fromtimestamp(e["ts"]).isoformat(
                    sep=" ", timespec="seconds"
                )
                if e.get("ts") else "-"
            )
            metrics = ""
            if "num_files" in e:
                metrics = f" files={e['num_files']} bytes={e['bytes']}"
            if e.get("dv_rows"):
                metrics += f" dv_rows={e['dv_rows']}"
            print(
                f"v{e['version']:<4d} {e['action']:<9s} {when} "
                f"dir={e['dir']} cols={','.join(e['columns'])}{metrics}"
            )
    elif args.action == "read":
        spark = _spark(args)
        if args.as_of is not None:
            if args.version is not None:
                print("read: pass --version or --as-of, not both",
                      file=sys.stderr)
                return 2
            args.version = vt.version_at(args.root, args.as_of)
            print(f"-- as of {args.as_of!r} = version {args.version}",
                  file=sys.stderr)
        label = "latest" if args.version is None else f"v{args.version}"
        if args.where:
            preds = _parse_where(args.where)
            if preds is None:
                return 2
            # pin the version NOW so the printed skip report and the
            # returned rows describe the same snapshot even if a commit
            # lands in between
            version = args.version
            if version is None:
                hist = vt.history(args.root)
                if not hist:
                    print(f"{args.root} has no committed versions", file=sys.stderr)
                    return 2
                version = hist[-1]["version"]
            rep = vt.zone_map_prune(args.root, preds, version)
            df = vt.read_where(spark, args.root, preds, version)
            label += (
                f" where {' AND '.join(args.where)} "
                f"(zone maps: {rep['kept_files']}/{rep['total_files']} files, "
                f"{rep['skip_fraction']:.0%} skipped)"
            )
        else:
            df = vt.read_version(spark, args.root, args.version)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {label} to {args.out}")
        else:
            print(f"{label}: rows={df.count()}")
    elif args.action == "optimize":
        spark = _spark(args)
        zcols = args.zorder_by.split(",") if args.zorder_by else None
        entry = vt.optimize(
            spark, args.root, zorder_by=zcols, num_files=args.files or 16,
            stats_columns=stats_cols,
        )
        how = f"z-ordered by {zcols}" if zcols else "compacted"
        if entry.get("stats_columns"):
            how += f", zone maps on {entry['stats_columns']}"
        print(f"committed v{entry['version']} (optimize: {how})")
    elif args.action == "update-where":
        if not args.where:
            print("update-where needs at least one --where COL:OP:VALUE",
                  file=sys.stderr)
            return 2
        if not args.set:
            print("update-where needs at least one --set COL=VALUE",
                  file=sys.stderr)
            return 2
        preds = _parse_where(args.where)
        if preds is None:
            return 2
        set_values = {}
        for item in args.set:
            col, eq, raw = item.partition("=")
            if not eq or not col:
                print(f"--set {item!r}: expected COL=VALUE", file=sys.stderr)
                return 2
            set_values[col] = _parse_value(raw)
        spark = _spark(args)
        if args.dv:
            st = vt.update_where_dv(spark, args.root, preds, set_values)
            if not st["committed"]:
                print("nothing to update (no row matches; no commit)")
            else:
                print(
                    f"committed v{st['version']} (DV update: "
                    f"{st['updated_rows']} rows — pre-images hidden by a "
                    "position sidecar, post-images appended, 0 files "
                    "rewritten; the next compaction purges physically)"
                )
        else:
            st = vt.update_where_pruned(
                spark, args.root, preds, set_values, num_files=args.files
            )
            if not st["committed"]:
                print(
                    "nothing to update (no row matches; "
                    f"{st['skipped_files']} file(s) provably skipped, no commit)"
                )
            else:
                print(
                    f"committed v{st['version']} (update: "
                    f"{st['updated_rows']} rows updated, "
                    f"{st['rewritten_files']} file(s) rewritten, "
                    f"{st['carried_files']} carried untouched)"
                )
    elif args.action == "purge-where":
        # GDPR right-to-be-forgotten: delete -> optimize -> vacuum ->
        # verified physical-erasure scan; time travel below the purge
        # is gone (that is the point)
        if not args.where:
            print(
                "purge-where needs at least one --where COL:OP:VALUE",
                file=sys.stderr,
            )
            return 2
        preds = _parse_where(args.where)
        if preds is None:
            return 2
        spark = _spark(args)
        try:
            st = vt.purge_where(
                spark, args.root, preds,
                drop_change_data=args.drop_change_data,
            )
        except ValueError as exc:
            print(str(exc), file=sys.stderr)
            return 2
        print(
            f"purged {st['purged_rows']} rows; {st['vacuumed']} "
            "superseded artifacts vacuumed; physical-erasure scan of "
            "every remaining parquet file: VERIFIED (0 matching rows "
            "on disk; pre-purge time travel is gone)"
        )
    elif args.action == "delete-where":
        if not args.where:
            print("delete-where needs at least one --where COL:OP:VALUE", file=sys.stderr)
            return 2
        preds = _parse_where(args.where)
        if preds is None:
            return 2
        spark = _spark(args)
        if args.dv:
            st = vt.delete_where_dv(spark, args.root, preds)
            if not st["committed"]:
                print("nothing to delete (no row matches; no commit)")
            else:
                print(
                    f"committed v{st['version']} (deletion vector: "
                    f"{st['deleted_rows']} rows hidden, 0 files rewritten "
                    "— the next compaction purges them physically)"
                )
        else:
            st = vt.delete_where_pruned(spark, args.root, preds, num_files=args.files)
            if not st["committed"]:
                print(
                    f"nothing to delete (zone maps prove no file intersects; "
                    f"{st['skipped_files']} file(s) skipped, no commit)"
                )
            else:
                print(
                    f"committed v{st['version']} (delete: {st['deleted_rows']} rows, "
                    f"{st['rewritten_files']} file(s) rewritten, "
                    f"{st['carried_files']} carried untouched)"
                )
    elif args.action == "upsert":
        if not args.src or not args.keys:
            print(
                "upsert needs an updates parquet (src) and --keys COL[,COL...]",
                file=sys.stderr,
            )
            return 2
        spark = _spark(args)
        updates = spark.read.parquet(args.src)
        st = vt.upsert_pruned(
            spark, args.root, updates,
            [c for c in args.keys.split(",") if c],
            num_files=args.files,
        )
        if not st["committed"]:
            print("no update rows — nothing to merge, no commit")
        else:
            print(
                f"committed v{st['version']} (upsert: {st['upsert_rows']} rows "
                f"merged, {st['replaced_rows']} replaced, "
                f"{st['rewritten_files']} file(s) rewritten, "
                f"{st['carried_files']} carried untouched)"
            )
    elif args.action == "set-constraints":
        checks = None
        if args.where:
            checks = _parse_where(args.where)
            if checks is None:
                return 2
        nn = [c for c in (args.not_null or "").split(",") if c]
        entry = vt.set_constraints(args.root, not_null=nn, checks=checks)
        if not nn and not checks:
            print(f"committed v{entry['version']} (all constraints dropped)")
        else:
            print(
                f"committed v{entry['version']} (constraints: "
                f"not_null={entry['not_null']} checks={entry['checks']} — "
                "future commits validate incoming rows)"
            )
    elif args.action == "compact-small":
        spark = _spark(args)
        st = vt.compact_small(
            spark, args.root,
            small_bytes=args.small_bytes, target_bytes=args.target_bytes,
            zorder_by=args.zorder_by.split(",") if args.zorder_by else None,
            max_dv_fraction=args.max_dv_fraction,
        )
        if not st["committed"]:
            print(
                f"nothing to compact ({st['carried_files']} live file(s), "
                "fewer than 2 below --small-bytes)"
            )
        else:
            print(
                f"committed v{st['version']} (compact: {st['compacted_files']} "
                f"small file(s) folded, {st['carried_files']} carried, "
                f"{st['rows']} rows, dataChange=false — streams skip it)"
            )
    elif args.action == "tail":
        if not args.out or not args.checkpoint:
            print(
                "tail needs --out SINK_DIR and --checkpoint CK_DIR",
                file=sys.stderr,
            )
            return 2
        from dataset_dedupe_estimator_spark.sources.table_stream import (
            VersionedTableStreamSource,
        )

        spark = _spark(args)
        spark.dataSource.register(VersionedTableStreamSource)
        reader = (
            spark.readStream.format("versioned_table")
            .option("startingVersion", str(args.starting_version))
        )
        if args.ignore_changes:
            reader = reader.option("ignoreChanges", "true")
        if args.read_change_feed:
            reader = reader.option("readChangeFeed", "true")
        q = (
            reader.load(args.root)
            .writeStream.format("parquet")
            .option("path", args.out)
            .option("checkpointLocation", args.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        n = spark.read.parquet(args.out).count()
        print(
            f"tailed {args.root} -> {args.out} (availableNow drain; "
            f"sink now holds {n} rows; re-run with the same --checkpoint "
            "to pick up new commits exactly-once)"
        )
    elif args.action == "replicate":
        # table-to-table streaming replication, exactly-once at both
        # ends: ROOT is the DESTINATION, SRC the source table. Plain
        # mode ships whole commits through the versioned sink
        # (appends); --read-change-feed + --keys applies row-level
        # changes (deletes/updates too, the APPLY CHANGES shape).
        if not args.src or not args.checkpoint:
            print(
                "replicate needs DST ROOT, SRC table and --checkpoint",
                file=sys.stderr,
            )
            return 2
        from dataset_dedupe_estimator_spark.sources.table_stream import (
            VersionedTableStreamSource,
        )

        spark = _spark(args)
        spark.dataSource.register(VersionedTableStreamSource)
        reader = spark.readStream.format("versioned_table").option(
            "startingVersion", str(args.starting_version)
        )
        if args.ignore_changes:
            reader = reader.option("ignoreChanges", "true")
        if args.read_change_feed:
            if not args.keys:
                print(
                    "replicate --read-change-feed needs --keys (one "
                    "column) to apply deletes/updates by key",
                    file=sys.stderr,
                )
                return 2
            from dataset_dedupe_estimator_spark.sources.table_sink import (
                apply_changes,
            )

            stream = reader.option("readChangeFeed", "true").load(args.src)
            writer = stream.writeStream.foreachBatch(
                apply_changes(
                    args.root,
                    [c for c in args.keys.split(",") if c],
                    checkpoint=args.checkpoint,
                )
            ).option("checkpointLocation", args.checkpoint)
        else:
            writer = (
                reader.load(args.src)
                .writeStream.format("versioned_table")
                .option("path", args.root)
                .option("checkpointLocation", args.checkpoint)
            )
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        n = vt.read_version(spark, args.root).count()
        v = vt.history(args.root)[-1]["version"]
        print(
            f"replicated {args.src} -> {args.root} (availableNow drain; "
            f"destination at v{v}, {n} live rows; re-run with the same "
            "--checkpoint to ship new commits exactly-once)"
        )
    elif args.action == "vacuum":
        removed = vt.vacuum(
            args.root, keep_versions=args.keep,
            keep_last_hours=args.keep_hours, dry_run=args.dry_run,
        )
        verb = "would remove" if args.dry_run else "removed"
        print(f"{verb} {len(removed)} data dirs: {', '.join(removed) or '-'}")
    elif args.action == "archive-log":
        st = vt.archive_log(args.root)
        print(
            f"archived {st['archived']} entries (floor v{st['floor']}), "
            f"removed {st['removed_json']} raw JSON files"
            if st["floor"] is not None
            else "nothing to archive (no checkpoint yet)"
        )
    elif args.action == "restore":
        if args.version is None and args.as_of is None:
            print("restore: pass --version N or --as-of TS (the target)",
                  file=sys.stderr)
            return 2
        if args.as_of is not None:
            if args.version is not None:
                print("restore: pass --version or --as-of, not both",
                      file=sys.stderr)
                return 2
            args.version = vt.version_at(args.root, args.as_of)
            print(f"-- as of {args.as_of!r} = version {args.version}",
                  file=sys.stderr)
        st = vt.restore(_spark(args), args.root, args.version)
        if not st["committed"]:
            print(f"already at version {args.version}; nothing committed")
        else:
            print(
                f"restored to v{args.version} as commit v{st['version']} "
                f"({len(st['dirs'])} live dirs re-referenced, zero data "
                "bytes moved)"
            )
    elif args.action == "rename-column":
        if not args.src or not args.out:
            print(
                "rename-column: de table rename-column ROOT OLD --out NEW",
                file=sys.stderr,
            )
            return 2
        st = vt.rename_column(args.root, args.src, args.out)
        print(
            f"committed v{st['version']} (rename {args.src!r} -> "
            f"{args.out!r}, metadata only — zero data bytes moved; "
            f"mapping: {st['column_mapping']})"
        )
    elif args.action == "files":
        import json as _json

        inv = vt.files(
            args.root, version=args.version, timestamp=args.as_of
        )
        for f in inv:
            print(_json.dumps(f, sort_keys=True))
        total = sum(f["bytes"] for f in inv)
        dvd = sum(f["dv_rows"] for f in inv)
        print(
            f"-- {len(inv)} live files, {total} bytes"
            + (f", {dvd} DV-hidden rows" if dvd else ""),
            file=sys.stderr,
        )
    elif args.action == "set-partitioning":
        cols = [c for c in (args.by or "").split(",") if c]
        st = vt.set_partitioning(args.root, cols)
        if not st.get("committed", True):
            print(f"already partitioned by {cols or '(none)'}; no commit")
        else:
            print(
                f"committed v{st['version']} (future commits write "
                f"partition_by={st['partition_by'] or '(none)'}; existing "
                "directories keep their layout — rewrites migrate them)"
            )
    elif args.action == "clone":
        if not args.out:
            print(
                "clone: de table clone SRC_ROOT --out DST_ROOT "
                "[--version N | --as-of TS]",
                file=sys.stderr,
            )
            return 2
        st = vt.clone_table(
            args.root, args.out, version=args.version,
            timestamp=args.as_of,
        )
        print(
            f"cloned {args.root}@v{st['src_version']} -> {args.out} "
            f"({st['versions']} commits, {st['linked_files']} files "
            f"hard-linked, {st['copied_files']} copied, "
            f"{st['dv_rows']} DV rows re-keyed — zero data bytes moved)"
        )
    elif args.action == "drop-column":
        if not args.src:
            print(
                "drop-column: de table drop-column ROOT COLUMN",
                file=sys.stderr,
            )
            return 2
        st = vt.drop_column(args.root, args.src)
        print(
            f"committed v{st['version']} (drop {args.src!r}, metadata "
            "only — pre-drop files keep the physical bytes until the "
            "next rewrite; time travel below this version still reads "
            "the column)"
        )
    elif args.action == "ingest":
        # continuous ingestion: every microbatch of newly-arrived files
        # becomes ONE auditable commit. The checkpoint dedupes input
        # files across restarts, and each commit is additionally TAGGED
        # with the md5 of its sorted INPUT FILE LIST, so the
        # at-least-once foreachBatch replay window (crash after commit,
        # before checkpoint write — or a wiped checkpoint) is a no-op
        # instead of a silent row duplication. Content-addressing by
        # file list (not batch ordinal) stays correct when a checkpoint
        # wipe reassigns batch ids to different files; it relies on the
        # standard streaming-source contract that inbox files are
        # immutable once dropped.
        if not args.src or not args.checkpoint:
            print("ingest needs SRC inbox dir and --checkpoint", file=sys.stderr)
            return 2
        if not os.path.isdir(args.src):
            print(f"ingest: inbox {args.src} does not exist", file=sys.stderr)
            return 2
        spark = _spark(args)
        from pyspark.errors import AnalysisException
        from pyspark.sql import functions as F

        try:
            static = spark.read.option("recursiveFileLookup", "true").parquet(
                args.src
            )
        except AnalysisException:
            print("nothing new to ingest (inbox empty)")
            return 0
        import hashlib as _hl

        before = len(vt.history(args.root))
        seen_tags = {
            e["ingest_batch"]
            for e in vt.history(args.root)
            if "ingest_batch" in e
        }

        def _ingest(batch, batch_id):
            if batch.isEmpty():
                return
            # microbatch frames report no inputFiles(); input_file_name()
            # is populated for file sources and the batch is file-sized
            files = sorted(
                r[0]
                for r in batch.select(
                    F.input_file_name().alias("f")
                ).distinct().collect()
                if r[0]
            )
            tag = (
                _hl.md5("\n".join(files).encode()).hexdigest()
                if files
                else f"{os.path.abspath(args.checkpoint)}#{batch_id}"
            )
            if tag in seen_tags:
                return  # replayed batch (same input files): already committed
            tag_entry = {"ingest_batch": tag, "ingest_files": len(files)}
            if args.keys and vt.history(args.root):
                # CDC-apply mode: each batch MERGEs by key (replacements
                # + inserts) through the zone-map-bounded upsert; replay
                # dedup above keeps the non-idempotent merge exactly-once
                vt.upsert_pruned(
                    spark, args.root, batch,
                    [c for c in args.keys.split(",") if c],
                    num_files=args.files, extra_entry=tag_entry,
                )
            else:  # plain append (also the first commit in merge mode)
                vt.append(
                    args.root, batch, num_files=args.files or 1,
                    stats_columns=stats_cols, extra_entry=tag_entry,
                )
            seen_tags.add(tag)

        q = (
            spark.readStream.schema(static.schema)
            .option("recursiveFileLookup", "true")
            .option("maxFilesPerTrigger", 1)
            .parquet(args.src)
            .writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", args.checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(600):
            q.stop()
            print("ingest: stream did not drain within 600s", file=sys.stderr)
            return 1
        n_new = len(vt.history(args.root)) - before
        print(f"{n_new} commit(s) ingested (v{before}..v{before + n_new - 1})"
              if n_new else "nothing new to ingest")
    return 0


def cmd_layout(args) -> int:
    """`de layout TABLE OUT --by c1 --by c2 [--files N] [--band col:lo:hi ...]`:
    rewrite a parquet table clustered on the Morton key of the --by
    columns (operators/layout.py — one bounds broadcast + one range
    exchange) and report footer-stat tightness per dimension plus, for
    any conjunctive --band filters, the exact fraction of row groups a
    min-max-pruning reader must scan, before vs after."""
    from dataset_dedupe_estimator_spark.operators.layout import (
        pruning_fraction,
        rowgroup_ranges,
        write_zordered,
    )

    spark = _spark(args)
    df = spark.read.parquet(args.table)
    write_zordered(df, args.by, args.out, bits=args.bits, num_files=args.files)
    for col in args.by:
        ranges = rowgroup_ranges(args.out, col)
        los = [mn for mn, _ in ranges]
        his = [mx for _, mx in ranges]
        domain = max(his) - min(los) + 1
        avg_span = sum(mx - mn + 1 for mn, mx in ranges) / len(ranges)
        print(
            f"{col}: {len(ranges)} row groups, avg footer span "
            f"{avg_span / domain:.1%} of domain"
        )
    if args.band:
        preds = {}
        for b in args.band:
            col, lo, hi = b.rsplit(":", 2)
            preds[col] = (int(lo), int(hi))
        before = pruning_fraction(args.table, preds)
        after = pruning_fraction(args.out, preds)
        print(
            f"row groups scanned for {preds}: "
            f"{before:.1%} before -> {after:.1%} z-ordered"
        )
    return 0


def cmd_checkout(args) -> int:
    """`de checkout` (de/cli.py:148-170): materialize git revisions."""
    from dataset_dedupe_estimator_spark.sources.git_revisions import (
        checkout_file_revisions,
    )

    written = checkout_file_revisions(
        args.repo, args.file, args.target, args.from_rev, args.until_rev
    )
    print(f"wrote {len(written)} revisions to {args.target}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="dataset-dedupe-estimator-spark")
    sub = p.add_subparsers(dest="command", required=True)

    d = sub.add_parser("dedup", help="estimate dedup across files")
    d.add_argument("files", nargs="+")
    d.add_argument("--no-xet", action="store_true")
    d.add_argument(
        "--trend",
        action="store_true",
        help="cumulative dedup ratio per file prefix (one chunk pass)",
    )
    d.add_argument("--pngs", help="directory for provenance heatmaps")
    d.add_argument(
        "--diff-html", help="write the multi-doc shared/unique diff strip here"
    )
    d.add_argument(
        "--scheme", choices=["window", "gear"], default="window",
        help="boundary function: windowed-sum (fast) or exact gearhash",
    )
    d.add_argument(
        "--probe-bytes", type=int, default=16 * 1024,
        help="cap on zlib probe bytes per chunk (0 skips the probe)",
    )
    d.set_defaults(fn=cmd_dedup)

    rw = sub.add_parser(
        "rewrite",
        help="rewrite named parquet files to <stem>-dedup.parquet in place",
    )
    rw.add_argument("files", nargs="+")
    rw.add_argument("--compression", default="snappy")
    rw.add_argument(
        "--plain", action="store_true",
        help="vanilla parquet writer (CDC needs pyarrow >= 21)",
    )
    rw.add_argument("--cdc-min", type=int, default=256 * 1024)
    rw.add_argument("--cdc-max", type=int, default=1024 * 1024)
    rw.set_defaults(fn=cmd_rewrite)

    rr = sub.add_parser(
        "render-readme",
        help="render a jinja2-style README template (suffix stripped)",
    )
    rr.add_argument("template")
    rr.set_defaults(fn=cmd_render_readme)

    s = sub.add_parser("synthetic", help="generate synthetic variants and compare formats")
    s.add_argument("schema", help='JSON schema, e.g. {"a": "int", "b": "str"}')
    s.add_argument("-s", "--size", type=int, default=100_000)
    s.add_argument("-e", "--edits", type=int, default=3)
    s.add_argument("--edit-size", type=int, default=10)
    s.add_argument("--seed", type=int, default=42)
    s.add_argument("--directory", default="/tmp/dde-synthetic")
    s.add_argument("--update-columns", action="store_true")
    s.add_argument("--with-json", action="store_true")
    s.add_argument("--with-sqlite", action="store_true")
    s.add_argument("--with-orc", action="store_true")
    s.add_argument("--html", help="write an SVG grouped-bar chart here")
    s.set_defaults(fn=cmd_synthetic)

    st = sub.add_parser("stats", help="rewrite a directory and compare formats")
    st.add_argument("directory")
    st.add_argument("--out", default="/tmp/dde-stats")
    st.add_argument("--with-json", action="store_true")
    st.add_argument("--with-sqlite", action="store_true")
    st.add_argument("--with-orc", action="store_true")
    st.add_argument("--html", help="write an SVG grouped-bar chart here")
    st.add_argument(
        "--page-histogram",
        action="store_true",
        help="append a per-data-page size histogram of the written parquet",
    )
    st.add_argument("--bucket", type=int, default=16 * 1024, help="histogram bucket bytes")
    st.set_defaults(fn=cmd_stats)

    pi = sub.add_parser("param-impact", help="row-group size sweep")
    pi.add_argument("file")
    pi.add_argument("--compression", default="snappy")
    pi.add_argument("--min-pow", type=int, default=16)
    pi.add_argument("--max-pow", type=int, default=22)
    pi.add_argument("--out", default="/tmp/dde-param-impact")
    pi.set_defaults(fn=cmd_param_impact)

    pc = sub.add_parser("page-chunks", help="parquet layout histogram")
    pc.add_argument("files", nargs="+")
    pc.add_argument("--bucket", type=int, default=64 * 1024)
    pc.add_argument(
        "--pages", action="store_true", help="per-data-page granularity"
    )
    pc.set_defaults(fn=cmd_page_chunks)

    sq = sub.add_parser("sql", help="run SQL over a testdata directory")
    sq.add_argument("query")
    sq.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    sq.add_argument("--limit", type=int, default=50)
    sq.add_argument(
        "--chunks", nargs="+",
        help="files/globs to chunk and register as `chunks` + `dedup_map` views",
    )
    sq.add_argument(
        "--table", nargs="+",
        help="NAME=ROOT[@VERSION]: register versioned-table snapshots as views",
    )
    sq.set_defaults(fn=cmd_sql)

    cp = sub.add_parser("corpus", help="LLM-corpus hygiene report")
    cp.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    cp.add_argument("--limit", type=int, default=15)
    cp.add_argument(
        "--materialize",
        metavar="DIR",
        help="also write the cleaned corpus (survivors) as source-partitioned parquet",
    )
    cp.add_argument(
        "--strip-spans",
        action="store_true",
        help="with --materialize: also remove exact-substring duplicate spans from survivor text",
    )
    cp.set_defaults(fn=cmd_corpus)

    ev = sub.add_parser("events", help="event-stream analytics report")
    ev.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    ev.set_defaults(fn=cmd_events)

    cm = sub.add_parser("compact", help="compact small parquet files to target size")
    cm.add_argument("src")
    cm.add_argument("dest")
    cm.add_argument("--target-mb", type=int, default=128)
    cm.add_argument("--sort-by", nargs="*", default=None, help="cluster keys")
    cm.add_argument(
        "--zorder-by", nargs=2, default=None, metavar=("COL_A", "COL_B"),
        help="Z-order (Morton) cluster on two columns so either prunes",
    )
    cm.add_argument("--compression", default="zstd")
    cm.set_defaults(fn=cmd_compact)

    dl = sub.add_parser("delta", help="chunk-level upload-delta estimate")
    dl.add_argument("--old", nargs="+", required=True, help="old snapshot files/globs")
    dl.add_argument("--new", nargs="+", required=True, help="new snapshot files/globs")
    dl.set_defaults(fn=cmd_delta)

    qu = sub.add_parser("quality", help="data-quality constraint report")
    qu.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
    )
    qu.add_argument("--allow-violations", action="store_true")
    qu.set_defaults(fn=cmd_quality)

    ix = sub.add_parser("index", help="persistent chunk-hash dedup index")
    ix.add_argument("action", choices=["build", "update", "stats", "compact", "delete"])
    ix.add_argument("index_dir")
    ix.add_argument("files", nargs="*", help="snapshot files/globs (build/update) or a hash parquet (delete)")
    ix.add_argument("--ids", help="comma-separated chunk hashes to delete")
    ix.add_argument(
        "--string-ids", action="store_true",
        help="keep --ids values as strings (digit-string keys like '0123' "
        "would otherwise be int-coerced and tombstone the wrong key)",
    )
    ix.set_defaults(fn=cmd_index)

    lx = sub.add_parser("lsh-index", help="persistent LSH near-dup document index")
    lx.add_argument(
        "action",
        choices=["build", "admit", "query", "stats", "stream", "compact", "delete"],
    )
    lx.add_argument("index_dir")
    lx.add_argument(
        "docs",
        nargs="?",
        help="parquet of (doc_id, text) — batch for build/admit, inbox dir for stream",
    )
    lx.add_argument("--pairs-out", help="parquet sink for candidate pairs")
    lx.add_argument("--ids", help="comma-separated doc ids to delete")
    lx.add_argument(
        "--string-ids", action="store_true",
        help="keep --ids values as strings (digit-string keys like '0123' "
        "would otherwise be int-coerced and tombstone the wrong key)",
    )
    lx.add_argument("--checkpoint", help="stream checkpoint dir (stream)")
    lx.set_defaults(fn=cmd_lsh_index)

    gx = sub.add_parser(
        "gram-index", help="persistent sliding-gram exact-substring index"
    )
    gx.add_argument(
        "action",
        choices=["build", "admit", "query", "stats", "stream", "compact", "delete"],
    )
    gx.add_argument("index_dir")
    gx.add_argument(
        "docs",
        nargs="?",
        help="parquet of (doc_id, text) — batch for build/admit/query, inbox dir for stream",
    )
    gx.add_argument("--k", type=int, default=8, help="gram width in tokens (build)")
    gx.add_argument("--spans-out", help="parquet sink for duplicate spans")
    gx.add_argument("--ids", help="comma-separated doc ids to delete")
    gx.add_argument(
        "--string-ids", action="store_true",
        help="keep --ids values as strings (digit-string keys like '0123' "
        "would otherwise be int-coerced and tombstone the wrong key)",
    )
    gx.add_argument("--checkpoint", help="stream checkpoint dir (stream)")
    gx.set_defaults(fn=cmd_gram_index)

    px = sub.add_parser("pq-index", help="persistent IVF-PQ ANN index")
    px.add_argument("action", choices=["build", "add", "search", "compact", "delete"])
    px.add_argument("index_dir")
    px.add_argument("vectors", nargs="?", help="parquet of (vec_id, embedding)")
    px.add_argument("--cells", type=int, default=16, help="IVF coarse cells")
    px.add_argument("--codes", type=int, default=256, help="PQ codebook entries per subspace")
    px.add_argument("--seed", type=int, default=42)
    px.add_argument("--query-id", type=int, help="vec_id whose vector to search for")
    px.add_argument("--ids", help="comma-separated vec ids to delete")
    px.add_argument(
        "--string-ids", action="store_true",
        help="keep --ids values as strings (digit-string keys like '0123' "
        "would otherwise be int-coerced and tombstone the wrong key)",
    )
    px.add_argument("--topk", type=int, default=10)
    px.add_argument("--nprobe", type=int, default=2)
    px.set_defaults(fn=cmd_pq_index)

    tx = sub.add_parser("text-index", help="persistent inverted BM25 index")
    tx.add_argument(
        "action",
        choices=[
            "build", "admit", "search", "phrase", "stats", "compact",
            "stream", "delete",
        ],
    )
    tx.add_argument("index_dir")
    tx.add_argument("docs", nargs="?", help="parquet of (doc_id, text) — or the inbox dir for stream")
    tx.add_argument("--buckets", type=int, default=32, help="term hash buckets")
    tx.add_argument("--terms", help="comma-separated query terms")
    tx.add_argument("--topk", type=int, default=20)
    tx.add_argument("--checkpoint", help="streaming checkpoint dir (stream)")
    tx.add_argument("--ids", help="comma-separated doc ids to delete")
    tx.add_argument(
        "--string-ids", action="store_true",
        help="keep --ids values as strings (digit-string keys like '0123' "
        "would otherwise be int-coerced and tombstone the wrong key)",
    )
    tx.set_defaults(fn=cmd_text_index)

    bp = sub.add_parser("bpe", help="train a BPE tokenizer on the documents table")
    bp.add_argument("dir")
    bp.add_argument("--merges", type=int, default=16)
    bp.add_argument("--out", help="write the merge table as JSON")
    bp.add_argument("--encode", help="tokenize the corpus to this parquet path")
    bp.set_defaults(fn=cmd_bpe)

    md = sub.add_parser("media", help="scan + decode a directory of media files")
    md.add_argument("dir")
    md.add_argument("--glob", default="*", help="pathGlobFilter pattern")
    md.add_argument("--features", help="write feature vectors to this parquet path")
    md.add_argument("--near-dups", dest="near_dups", help="write perceptual near-dup pairs (image+audio) to this parquet path")
    md.set_defaults(fn=cmd_media)

    se = sub.add_parser(
        "search", help="BM25 keyword search (+ hybrid RRF with --vectors)"
    )
    se.add_argument("docs")
    se.add_argument("terms", nargs="+")
    se.add_argument("--top", type=int, default=20)
    se.add_argument("--vectors", help="embeddings parquet: fuse a cosine leg by RRF")
    se.add_argument("--query-id", dest="query_id", type=int,
                    help="vec_id of the hybrid query vector")
    se.add_argument("--pool", type=int, default=50,
                    help="per-leg candidate pool for RRF fusion")
    se.set_defaults(fn=cmd_search)

    sa = sub.add_parser("sample", help="layout-stable stratified per-source sample")
    sa.add_argument("docs")
    sa.add_argument("out")
    sa.add_argument("--per-source", type=int, default=100)
    sa.set_defaults(fn=cmd_sample)

    tb = sub.add_parser("table", help="versioned parquet table: snapshots + time travel")
    tb.add_argument(
        "action",
        choices=[
            "append", "overwrite", "history", "read", "optimize", "vacuum",
            "ingest", "delete-where", "update-where", "purge-where",
            "upsert", "tail", "replicate", "compact-small",
            "set-constraints", "restore", "detail", "rename-column",
            "drop-column", "clone", "set-partitioning", "files",
            "archive-log",
        ],
    )
    tb.add_argument("root")
    tb.add_argument("src", nargs="?")
    tb.add_argument("--version", type=int)
    tb.add_argument(
        "--dry-run", dest="dry_run", action="store_true",
        help="vacuum: report what would be removed without removing",
    )
    tb.add_argument(
        "--by",
        help="set-partitioning: comma-separated partition columns for "
        "FUTURE commits (empty to unpartition); existing directories "
        "keep their layout",
    )
    tb.add_argument(
        "--allow-type-widening", dest="allow_type_widening",
        action="store_true",
        help="append: permit safe type widening (int->bigint, "
        "float->double, incl. struct fields/array elements) — the "
        "declared type widens, existing files upcast in the scan",
    )
    tb.add_argument(
        "--as-of", dest="as_of",
        help="read/restore/detail/files/clone: resolve the target "
        "version by TIMESTAMP AS OF (ISO-8601 like "
        "'2026-08-16T12:30:00', or epoch seconds) — the newest commit "
        "at or before that time",
    )
    tb.add_argument("--out")
    tb.add_argument("--files", type=int)
    tb.add_argument("--keep", type=int, default=1)
    tb.add_argument(
        "--dv", action="store_true",
        help="delete-where/update-where: merge-on-read via a DELETION "
        "VECTOR (position-delete sidecar; update also appends the "
        "post-image rows) instead of rewriting files — O(changed rows) "
        "write, purged physically at the next compaction",
    )
    tb.add_argument(
        "--drop-change-data", dest="drop_change_data", action="store_true",
        help="purge-where: also erase the table's ENTIRE at-rest change "
        "data (_cdf/ for ALL commits, required on a change-feed table — "
        "mid-stream CDC consumers lose all unread history)",
    )
    tb.add_argument(
        "--keep-hours", type=float,
        help="vacuum: additionally retain every version committed "
        "within the last N hours (time travel / restore stay possible "
        "for the whole audit window)",
    )
    tb.add_argument("--zorder-by", help="comma-separated cluster columns for optimize")
    tb.add_argument("--checkpoint", help="streaming checkpoint dir (ingest)")
    tb.add_argument(
        "--stats-columns",
        help="comma-separated numeric columns to record per-file zone maps for (append/overwrite/optimize)",
    )
    tb.add_argument(
        "--where",
        action="append",
        default=[],
        metavar="COL:OP:VALUE",
        help="read predicate, e.g. o_orderkey:between:100,200, price:>=:5, or k:in:a,b,c "
        "(repeatable; conjunction; zone maps skip provably-missed files)",
    )
    tb.add_argument(
        "--set",
        action="append",
        default=[],
        metavar="COL=VALUE",
        help="update-where: set COL to VALUE on matching rows "
        "(repeatable; VALUE parsed as int/float/string)",
    )
    tb.add_argument(
        "--keys",
        help="comma-separated merge key columns (upsert, or ingest for "
        "CDC-apply mode): update rows replace live rows sharing the key, "
        "new keys insert; only files whose zone maps can hold an update "
        "key are rewritten",
    )
    tb.add_argument(
        "--ignore-changes", action="store_true",
        help="tail: emit rewriting commits' own directories instead of "
        "stopping (downstream must tolerate re-delivered rows)",
    )
    tb.add_argument(
        "--starting-version", type=int, default=0,
        help="tail: first commit version to stream (default 0)",
    )
    tb.add_argument(
        "--bloom-columns",
        help="comma-separated string/integer columns to record per-file "
        "Bloom bitmaps for (append/overwrite): equality reads and merge "
        "keys then skip files the value provably isn't in — the pruning "
        "zone maps can't offer for strings",
    )
    tb.add_argument(
        "--not-null",
        help="set-constraints: comma-separated columns that must be "
        "non-null in every future commit (checks come from --where; "
        "replace semantics — run with neither to drop all constraints)",
    )
    tb.add_argument(
        "--change-feed", action="store_true",
        help="append: enable row-level change tracking from this commit "
        "onward (deletes/upserts then write O(changed rows) change-data "
        "files served by read_change_feed and tail --read-change-feed)",
    )
    tb.add_argument(
        "--read-change-feed", action="store_true",
        help="tail: stream row-level changes (_change, _commit_version) "
        "instead of appended rows",
    )
    tb.add_argument(
        "--small-bytes", type=int, default=32 << 20,
        help="compact-small: fold live files smaller than this (default 32 MiB)",
    )
    tb.add_argument(
        "--target-bytes", type=int, default=128 << 20,
        help="compact-small: size the folded outputs to this (default 128 MiB)",
    )
    tb.add_argument(
        "--max-dv-fraction", type=float, default=None,
        help="compact-small: also rewrite files whose deletion-vector-"
        "hidden row fraction exceeds this (retires the read-side "
        "anti-join for those files)",
    )
    tb.set_defaults(fn=cmd_table)

    ly = sub.add_parser("layout", help="z-order rewrite + data-skipping report")
    ly.add_argument("table", help="input parquet file/directory")
    ly.add_argument("out", help="output directory for the z-ordered copy")
    ly.add_argument("--by", action="append", required=True, help="cluster column (repeat)")
    ly.add_argument("--files", type=int, default=64)
    ly.add_argument("--bits", type=int, default=10)
    ly.add_argument(
        "--band", action="append", default=[], help="col:lo:hi conjunctive filter band"
    )
    ly.set_defaults(fn=cmd_layout)

    co = sub.add_parser("checkout", help="materialize git file revisions")
    co.add_argument("repo")
    co.add_argument("file")
    co.add_argument("target")
    co.add_argument("--from-rev")
    co.add_argument("--until-rev")
    co.set_defaults(fn=cmd_checkout)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
