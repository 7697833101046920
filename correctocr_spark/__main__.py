"""CLI entry point — the reference's command surface (§3.1-3.4) for a
Spark cluster.

Usage (local):
    python -m correctocr_spark prepare --input pages.parquet --output out/
Usage (cluster; session comes from spark-submit):
    spark-submit --py-files correctocr_spark.zip -m ... \
        cli.py prepare --master from-submit --input ... --output ...

Subcommands mirror the reference CLI (cli.py:67-278):
  prepare  — run the pipeline, write corrected + audit (resumable)
  model    — train HMM params from (text, gold_text) docs (commands.py:196-221)
  report   — heuristics evaluation report (commands.py:382-398)
  dictionary — build a dictionary from a gold corpus (commands.py:31-169)
  correct  — apply corrections, write per-document gold text files
             (commands.py:414-472: --autocorrect default, --apply CSV,
             --gold-ready-only)
  index    — term-index matching over --term-file lists (commands.py:478-566)
  stats    — bin metrics table; --make-settings derives a settings.json
             from the per-bin evaluation counters (commands.py:382-408)

Config layering mirrors config.py:15-32: defaults < env
(``CORRECTOCR_<OPTION>``) < command line.
"""

from __future__ import annotations

import argparse
import os
import sys


def _env_default(name: str, default):
    return os.environ.get(f"CORRECTOCR_{name.upper()}", default)


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="correctocr_spark")
    p.add_argument("--master", default=_env_default("master", "local"),
                   help="'local' (default) builds a local[N] session; "
                        "'from-submit' uses the spark-submit-provided session")
    p.add_argument("--cores", type=int, default=int(_env_default("cores", "0")))
    sub = p.add_subparsers(dest="command", required=True)

    prep = sub.add_parser("prepare", help="extract+correct pages table")
    prep.add_argument("--input", required=True, help="pages parquet path/table")
    prep.add_argument("--output", required=True, help="output dir (corrected/ + audit/)")
    prep.add_argument(
        "--format", choices=["pages", "pdf", "hocr", "warc"],
        default=_env_default("format", "pages"),
        help="'pages' = parquet pages table; 'pdf'/'hocr' = a directory of "
             "source files (binaryFile scan -> token table -> page texts), "
             "mirroring the reference's per-extension Tokenizer dispatch; "
             "'warc' = a directory of WARC crawl segments (response "
             "records become (url, warc_ts, html) pages)",
    )
    prep.add_argument("--k", type=int, default=int(_env_default("k", "4")))
    prep.add_argument("--settings", choices=["shipped", "aggressive"],
                      default=_env_default("settings", "shipped"))
    prep.add_argument("--no-dehyphenate", action="store_true")
    prep.add_argument("--no-html", action="store_true",
                      help="use the pre-extracted text column")
    prep.add_argument("--no-resume", action="store_true")
    prep.add_argument("--resources", default=_env_default("resources", ""),
                      help="resources dir (hmm_parameters.json, dictionary.txt, settings.json)")
    prep.add_argument("--run-id", default=_env_default("run_id", "run"))

    model = sub.add_parser("model", help="train HMM from aligned docs")
    model.add_argument("--input", required=True, help="parquet with text + gold_text")
    model.add_argument("--output", required=True, help="resources output dir")
    model.add_argument("--smoothing", type=float, default=1e-4)
    model.add_argument("--characters", default="", help="extra required charset")

    rep = sub.add_parser("report", help="heuristics evaluation report")
    rep.add_argument("--input", required=True, help="pages parquet path")
    rep.add_argument("--resources", default="")

    dic = sub.add_parser("dictionary", help="build dictionary from gold corpus")
    dic.add_argument("--input", default="", help="parquet with a text column")
    dic.add_argument("--corpus-dir", default="",
                     help="corpus directory of .txt/.xml/.pdf/.zip groups "
                          "(commands.py:31-169 build_dictionary walk)")
    dic.add_argument("--output", required=True, help="dictionary.txt path")
    dic.add_argument("--text-col", default="text")

    corr = sub.add_parser("correct", help="apply corrections, write gold text files")
    corr.add_argument("--input", default="", help="pages parquet (autocorrect mode)")
    corr.add_argument("--apply", default="",
                      help="externally-corrected token CSV dir (commands.py:429-434); "
                           "mutually exclusive with --input")
    corr.add_argument("--output", required=True, help="gold dir (one <urlencoded-url>.txt per doc)")
    corr.add_argument("--gold-ready-only", action="store_true",
                      help="only write fully-corrected documents (config.gold_ready)")
    corr.add_argument("--k", type=int, default=int(_env_default("k", "4")))
    corr.add_argument("--settings", choices=["shipped", "aggressive"],
                      default=_env_default("settings", "aggressive"))
    corr.add_argument("--no-dehyphenate", action="store_true")
    corr.add_argument("--no-html", action="store_true")
    corr.add_argument("--resources", default=_env_default("resources", ""))

    idx = sub.add_parser("index", help="term-index matching (commands.py:478-566)")
    idx.add_argument("--input", default="", help="pages parquet (runs the pipeline)")
    idx.add_argument("--tokens", default="", help="pre-computed token-table parquet")
    idx.add_argument("--term-file", action="append", default=[], dest="term_files",
                     help="file of terms, one per line; tag = file stem (repeatable)")
    idx.add_argument("--output", required=True, help="index output parquet path")
    idx.add_argument("--min-run", type=int, default=2)
    idx.add_argument("--resources", default=_env_default("resources", ""))

    cur = sub.add_parser(
        "curate",
        help="corpus curation: quality gate -> dedup canonicals -> "
             "optional sample -> token-budget shards (training-data prep)",
    )
    cur.add_argument("--input", required=True, help="documents parquet (doc_id, text[, lang])")
    cur.add_argument("--output", required=True, help="curated parquet dir (partitioned by shard if --shard-budget)")
    cur.add_argument("--min-quality", type=float, default=0.5)
    cur.add_argument("--sample-rate", type=float, default=None)
    cur.add_argument("--shard-budget", type=int, default=None,
                     help="tokens per training shard (two-pass prefix-sum packing)")
    cur.add_argument("--max-bucket", type=int, default=None,
                     help="LSH hot-bucket cap (drop boilerplate buckets before the self-join)")
    cur.add_argument("--index-dir", default="",
                     help="persistent MinHash band index dir: curate this input as an "
                          "INCREMENT (near-dups vs the index dropped, O(increment) "
                          "banding) and append it to the index afterwards")
    cur.add_argument("--canonical", choices=["min_id", "quality"], default="min_id",
                     help="near-dup cluster winner: lowest id (the oracle contract) "
                          "or highest quality score; with --index-dir, quality "
                          "elects across stored+increment members and emits a "
                          "retraction list (see --superseded-out)")
    cur.add_argument("--superseded-out", default="",
                     help="with --index-dir --canonical quality: parquet path for "
                          "the (doc_id) retraction list of previously-published "
                          "docs that lost their cluster's election this run — "
                          "apply it downstream as a MERGE/DELETE")
    cur.add_argument("--mix", default="",
                     help="target mixture shares as group=share pairs, e.g. "
                          "'en=0.5,fr=0.3,de=0.2': after the quality/dedup/"
                          "sample stages, deterministically downsample to this "
                          "blend over --mix-col (groups not listed are "
                          "dropped; a listed group with no surviving rows "
                          "fails loudly)")
    cur.add_argument("--mix-col", default="lang",
                     help="grouping column for --mix (default: lang)")
    cur.add_argument("--scrub-lines", action="store_true",
                     help="strip corpus-repeated lines (CCNet-style boilerplate "
                          "scrub) from every document BEFORE the quality/dedup pass")
    cur.add_argument("--scrub-spans", type=int, default=0, metavar="N",
                     help="strip corpus-repeated N-word spans (C4-style substring "
                          "dedup) from every document BEFORE the quality/dedup pass")
    cur.add_argument("--gopher", action="store_true",
                     help="apply the published Gopher document rules as an "
                          "inline scan filter BEFORE quality/dedup")
    cur.add_argument("--blocklist", default="",
                     help="text file of blocked domains (one registrable host "
                          "per line, UT1-style); pages whose --url-col host "
                          "is a blocked domain or a subdomain of one are "
                          "dropped first")
    cur.add_argument("--url-col", default="url",
                     help="url column for --blocklist (default: url)")
    cur.add_argument("--respect-robots", action="store_true",
                     help="drop pages whose --html-col carries a robots "
                          "noindex meta directive, before every other gate")
    cur.add_argument("--html-col", default="html")
    cur.add_argument("--shuffle-seed", default="",
                     help="write the curated corpus in seeded deterministic "
                          "global training order (adds a position column; "
                          "files are range-partitioned and sorted by it)")
    cur.add_argument("--badwords", default="",
                     help="text file of soft-filter words (one per line): "
                          "docs whose bad-word density exceeds "
                          "--max-badword-ratio are dropped before "
                          "quality/dedup")
    cur.add_argument("--max-badword-ratio", type=float, default=0.1)
    cur.add_argument("--funnel-out", default="",
                     help="parquet path for the row-local content-gate "
                          "attrition report (robots-meta / gopher / "
                          "badwords funnel, in production order) computed "
                          "over the curation input in one scan; the "
                          "badwords gate joins the report only when the "
                          "lexicon fits the in-plan form (<=10k words)")
    cur.add_argument("--lm-keep", default="",
                     help="comma-joined perplexity buckets to keep "
                          "(head,middle,tail) — the CCNet-style "
                          "unigram-LM gate; empty disables it")
    cur.add_argument("--lm-head", type=float, default=0.3,
                     help="head bucket corpus fraction (cut at the "
                          "1-head percentile of avg log prob)")
    cur.add_argument("--lm-tail", type=float, default=0.3)
    cur.add_argument("--robots-txt", default="",
                     help="parquet of per-host robots.txt bodies "
                          "(host, content): drop pages the RFC 9309 "
                          "fetch gate disallows (longest-match rules, "
                          "Allow wins ties)")
    cur.add_argument("--host-quota", type=int, default=None,
                     help="keep at most N docs per --url-col host "
                          "(longest-text-first, salted two-phase "
                          "top-N) — the domain-dominance cap; runs "
                          "after dedup, before sampling")
    cur.add_argument("--classifier-weights", default="",
                     help="parquet of an exported hashed linear model "
                          "head (bucket, weight in integer micro-"
                          "units): docs whose integer logit falls "
                          "below --classifier-threshold are dropped "
                          "(the FineWeb-Edu-style model gate)")
    cur.add_argument("--classifier-dims", type=int, default=1 << 16,
                     help="hashing-trick feature space size the model "
                          "was trained with")
    cur.add_argument("--classifier-bias", type=int, default=0)
    cur.add_argument("--classifier-threshold", type=int, default=0)
    cur.add_argument("--id-col", default="doc_id")
    cur.add_argument("--text-col", default="text")

    ing = sub.add_parser(
        "ingest",
        help="WARC crawl segments -> north-rule pages parquet "
             "(url, warc_ts, html, text, lang)",
    )
    ing.add_argument("--input", required=True, help="directory of .warc/.warc.gz files")
    ing.add_argument("--output", required=True, help="pages parquet output path")
    ing.add_argument("--glob", default="*.warc*")
    ing.add_argument("--partitions", type=int, default=0,
                     help="repartition by url hash before extraction "
                          "(breaks crawl-order host clustering)")
    ing.add_argument("--raw", action="store_true",
                     help="skip extraction/lang: write (url, warc_ts, html) only")
    ing.add_argument("--keep-errors", action="store_true",
                     help="salvage records before a corruption point instead "
                          "of failing the task (skip_bad)")
    ing.add_argument("--all-status", action="store_true",
                     help="keep non-2xx HTTP responses too")
    ing.add_argument("--extractor", choices=["density", "justext"],
                     default="density",
                     help="extraction kernel: link-density heuristic "
                          "(default, the flagship contract) or jusText-"
                          "style stopword-density block classification")
    ing.add_argument("--wet-out", default="",
                     help="also export the extracted text as WET shards "
                          "(conversion records) at this directory; "
                          "requires extraction (incompatible with --raw)")
    ing.add_argument("--wat-out", default="",
                     help="also export page metadata (title/description/"
                          "canonical/outlinks) as WAT shards (metadata "
                          "records, JSON envelopes) at this directory; "
                          "works with or without --raw (html column "
                          "suffices)")
    ing.add_argument("--cdx-out", default="",
                     help="also write a CDXJ index of the INPUT segments "
                          "(urlkey-sorted text shards) at this directory — "
                          "the range-read layer over per-record-gzip WARCs")

    sk = sub.add_parser(
        "skew",
        help="shuffle-key skew diagnostic: per-key row/byte corpus "
             "shares in basis points + hot-key flags (measure before "
             "you pick a shuffle key or decide to salt)",
    )
    sk.add_argument("--input", required=True, help="parquet path")
    sk.add_argument("--key", default="url", help="key column to profile")
    sk.add_argument("--host-of", default="",
                    help="profile the HOST extracted from this url column "
                         "(curation-tier host grammar) instead of --key")
    sk.add_argument("--text-col", default="text",
                    help="byte-mass column; '' weighs rows only")
    sk.add_argument("--top", type=int, default=20)
    sk.add_argument("--hot-bp", type=int, default=500,
                    help="hot-key threshold in basis points of row mass")
    sk.add_argument("--output", default="",
                    help="write the report parquet here (default: print)")

    pl = sub.add_parser(
        "plan",
        help="physical-plan audit for a registered driver query: the "
             "formatted plan plus the scale report card (exchanges by "
             "kind, codegen spans, Python-UDF nodes, pushed filters, "
             "read schemas, cartesian/top-k flags) — .explain, "
             "institutionalized",
    )
    pl.add_argument("query", help="name from __spark_entry__.queries(); "
                                  "'list' prints the registry")
    pl.add_argument("--sf-dir", default=_env_default("sf_dir", "/root/testdata/sf0.001"))
    pl.add_argument("--full", action="store_true",
                    help="print the entire formatted plan (default: the "
                         "audit summary + plan head)")

    st = sub.add_parser("stats", help="per-bin metrics; optionally derive settings")
    st.add_argument("--input", required=True, help="pages parquet path")
    st.add_argument("--make-settings", default="",
                    help="write a settings.json derived from the per-bin "
                         "evaluation counters (the working form of the "
                         "reference's make_settings TODO, commands.py:399-408)")
    st.add_argument("--resources", default=_env_default("resources", ""))
    return p


def get_session(args):
    from .spark.session import get_spark, ship_package

    if args.master == "from-submit":
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.getOrCreate()
        ship_package(spark)
        return spark
    return get_spark(cores=args.cores or None)


def load_resources(path: str, k: int = 4, settings: str = "shipped"):
    """The model at ``path`` (the default model when empty) under a
    ``--settings`` profile: ``aggressive`` replaces its settings with
    ``AGGRESSIVE_SETTINGS``."""
    from .kernels.heuristics import AGGRESSIVE_SETTINGS
    from .spark.resources import Resources, default_resources

    res = Resources.load(path, k=k) if path else default_resources(k=k)
    if settings == "aggressive":
        res = Resources(res.params, res.dictionary, AGGRESSIVE_SETTINGS, k=res.k)
    return res


def write_gold_files(corrected, out_dir: str) -> None:
    """Distributed gold sink: one ``<urlencoded-url>.txt`` per document,
    written from the executors (Tokenizer.apply's gold_path contract,
    tokens/_text.py — the byte contract itself is A10/S11, already
    pinned; this is the file fan-out). Local FS here; a shared FS /
    object store on a cluster."""
    import os as _os

    def write_part(rows):
        from urllib.parse import quote

        _os.makedirs(out_dir, exist_ok=True)
        for r in rows:
            name = quote(r["url"], safe="") + ".txt"
            with open(_os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
                fh.write(r["corrected"] or "")

    corrected.select("url", "corrected").foreachPartition(write_part)


def load_term_files(paths) -> dict:
    """--term-file lists -> {tag: [terms]} with the reference's term
    normalization (commands.py:485-489: lower, strip punctuation)."""
    import string as _string
    from pathlib import Path

    tagged = {}
    for p in paths:
        path = Path(p)
        terms = []
        for line in path.read_text(encoding="utf-8").split("\n"):
            term = line.lower().lstrip(_string.punctuation).rstrip(_string.punctuation).strip()
            if term:
                terms.append(term)
        tagged[path.stem] = terms
    return tagged


def derive_settings(counter_rows) -> dict:
    """Per-bin evaluation counters -> best heuristic per bin: pick the
    decision that would have matched gold most often (A=keep original,
    B=top candidate, C=lower dictionary-validated candidate), annotator
    when nothing wins. The working form of the reference's make_settings
    TODO (commands.py:399-408)."""
    settings = {}
    for row in counter_rows:
        scores = [
            (row["a_gold_eq_orig"], "original"),
            (row["b_gold_eq_k1"], "kbest"),
            (row["c_gold_in_lower"], "kdict"),
        ]
        best_n, best_code = max(scores, key=lambda t: t[0])
        settings[int(row["bin"])] = best_code if best_n > 0 else "annotator"
    return settings


def main(argv=None) -> int:
    args = build_parser().parse_args(argv)
    spark = get_session(args)
    try:
        if args.command == "prepare":
            from .spark.audit import AuditedRun
            from .spark.pipeline import CorrectionPipeline

            res = load_resources(args.resources, k=args.k, settings=args.settings)
            use_html = not args.no_html
            if args.format == "pages":
                pages = spark.read.parquet(args.input)
            elif args.format == "warc":
                from pyspark.sql import functions as F

                from .spark.warc import read_warc

                # raw WARC rows carry no pre-extracted text column; the
                # pipeline contract (north-rule pages shape) expects one
                # even in html mode, where it is the null-html fallback
                pages = read_warc(spark, args.input).withColumn(
                    "text", F.lit(None).cast("string")
                )
            else:
                from .spark.pdf import (
                    hocr_tokens,
                    pdf_page_texts,
                    pdf_tokens,
                    read_hocr_files,
                    read_pdf_files,
                )

                if args.format == "pdf":
                    toks = pdf_tokens(read_pdf_files(spark, args.input))
                else:
                    toks = hocr_tokens(read_hocr_files(spark, args.input))
                pages = pdf_page_texts(toks)
                use_html = False
            pipe = CorrectionPipeline(
                spark, res,
                dehyphenate=not args.no_dehyphenate,
                use_html=use_html,
            )
            run = AuditedRun(spark, args.output, run_id=args.run_id)
            pending = pages if args.no_resume else run.pending(pages)
            run.write(pipe.corrected(pending))
            done = spark.read.parquet(run.corrected_path).count()
            print(f"prepared: {done} documents at {run.corrected_path}")
        elif args.command == "model":
            from .spark.resources import DEFAULT_CHARSET, Resources
            from .spark.sources import build_dictionary_df
            from .spark.training import train_hmm

            docs = spark.read.parquet(args.input)
            dict_words = [r["word"] for r in build_dictionary_df(docs, "gold_text").collect()]
            params = train_hmm(
                docs, dict_words, DEFAULT_CHARSET + args.characters,
                smoothing=args.smoothing,
            )
            from .kernels.dictionary import Dictionary as D

            Resources(params, D(dict_words)).save(args.output)
            print(f"model: {len(params.states)} states -> {args.output}")
        elif args.command == "report":
            from .spark.pipeline import CorrectionPipeline
            from .spark.report import doc_totals, heuristics_report

            res = load_resources(args.resources)
            pipe = CorrectionPipeline(spark, res)
            pages = spark.read.parquet(args.input)
            tokens = pipe.tokens(pages).cache()
            print(heuristics_report(tokens, doc_totals(tokens), res, spark))
        elif args.command == "dictionary":
            if args.corpus_dir:
                from .spark.corpus import corpus_dictionary_df

                word_df = corpus_dictionary_df(spark, args.corpus_dir).select("word").distinct()
            elif args.input:
                from .spark.sources import build_dictionary_df

                word_df = build_dictionary_df(spark.read.parquet(args.input), args.text_col)
            else:
                raise SystemExit("dictionary: need --input or --corpus-dir")
            words = sorted(
                (r["word"] for r in word_df.collect()),
                key=str.lower,
            )
            with open(args.output, "w") as fh:
                fh.write("\n".join(words))
            print(f"dictionary: {len(words)} words -> {args.output}")
        elif args.command == "correct":
            from pyspark.sql import functions as F

            from .spark.pipeline import CorrectionPipeline

            if bool(args.input) == bool(args.apply):
                raise SystemExit("correct: need exactly one of --input / --apply")
            if args.apply:
                from .spark.sources import import_tokens_csv

                tokens = import_tokens_csv(spark, args.apply, k=args.k)
                corrected = CorrectionPipeline.finalize(tokens)
            else:
                res = load_resources(args.resources, k=args.k, settings=args.settings)
                pipe = CorrectionPipeline(
                    spark, res,
                    dehyphenate=not args.no_dehyphenate,
                    use_html=not args.no_html,
                )
                corrected = pipe.corrected(spark.read.parquet(args.input))
            if args.gold_ready_only:
                corrected = corrected.where(F.col("done"))
            corrected = corrected.persist()
            write_gold_files(corrected, args.output)
            n = corrected.count()
            corrected.unpersist()
            print(f"corrected: {n} gold files -> {args.output}")
        elif args.command == "index":
            from .spark.sources import term_index

            if not args.term_files:
                raise SystemExit("index: need at least one --term-file")
            if bool(args.input) == bool(args.tokens):
                raise SystemExit("index: need exactly one of --input / --tokens")
            if args.tokens:
                tokens = spark.read.parquet(args.tokens)
            else:
                from .spark.pipeline import CorrectionPipeline

                res = load_resources(args.resources)
                pipe = CorrectionPipeline(spark, res)
                tokens = pipe.tokens(spark.read.parquet(args.input))
            out = term_index(tokens, load_term_files(args.term_files), min_run=args.min_run)
            out.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(f"index: {n} term runs -> {args.output}")
        elif args.command == "curate":
            from pyspark.sql import functions as F

            from .ops.curate import curate

            docs = spark.read.parquet(args.input)

            # boilerplate scrubs run BEFORE the quality/dedup pass (the
            # CCNet/C4 ordering): documents are rewritten to their
            # scrubbed text, then curated as usual. NOTE: with
            # --index-dir the hot line/span sets are computed over THIS
            # increment only (the index stores bands, not lines), so
            # scrubbed incremental runs are not exactly equal to a
            # scrubbed one-shot run over the union.
            def apply_scrub(d, scrub_fn, **kw):
                scrubbed = scrub_fn(
                    d, id_col=args.id_col, text_col=args.text_col, **kw
                ).select(
                    F.col("doc_id").alias(args.id_col),
                    F.col("clean_text").alias(args.text_col),
                )
                return d.drop(args.text_col).join(scrubbed, on=args.id_col)

            if args.scrub_lines:
                from .ops.dedup import dedup_lines

                docs = apply_scrub(docs, dedup_lines)
            if args.scrub_spans:
                from .ops.dedup import remove_duplicate_spans

                docs = apply_scrub(
                    docs, remove_duplicate_spans, n=args.scrub_spans
                )
            mix = None
            if args.mix:
                try:
                    mix = {
                        k.strip(): float(v)
                        for k, v in (pair.split("=", 1) for pair in args.mix.split(","))
                    }
                except ValueError:
                    raise SystemExit(
                        f"--mix expects group=share pairs like "
                        f"'en=0.5,fr=0.3', got {args.mix!r}"
                    )
            badwords = None
            if args.badwords:
                badwords = (
                    spark.read.text(args.badwords)
                    .select(F.trim("value").alias("word"))
                    .where((F.col("word") != "") & ~F.col("word").startswith("#"))
                )
            blocklist = None
            if args.blocklist:
                # one host per line; blank lines and #-comments skipped
                blocklist = (
                    spark.read.text(args.blocklist)
                    .select(F.trim("value").alias("host"))
                    .where((F.col("host") != "") & ~F.col("host").startswith("#"))
                )
            if args.funnel_out:
                from .ops.filters import curate_funnel

                bw_list = None
                if badwords is not None:
                    # the funnel takes the in-plan lexicon form only;
                    # dimension-sized lists stay a join and skip the row
                    sample = badwords.limit(10001).collect()
                    if len(sample) <= 10000:
                        bw_list = [r["word"] for r in sample]
                curate_funnel(
                    docs,
                    text_col=args.text_col,
                    html_col=args.html_col,
                    respect_robots=args.respect_robots,
                    gopher=args.gopher,
                    badwords=bw_list,
                    max_badword_ratio=args.max_badword_ratio,
                ).write.mode("overwrite").parquet(args.funnel_out)
            out = curate(
                docs,
                id_col=args.id_col,
                text_col=args.text_col,
                min_quality=args.min_quality,
                max_bucket=args.max_bucket,
                sample_rate=args.sample_rate,
                shard_budget=args.shard_budget,
                canonical=args.canonical,
                index_path=args.index_dir or None,
                mix=mix,
                mix_col=args.mix_col,
                gopher=args.gopher,
                blocklist=blocklist,
                url_col=args.url_col,
                badwords=badwords,
                max_badword_ratio=args.max_badword_ratio,
                shuffle_seed=args.shuffle_seed or None,
                respect_robots=args.respect_robots,
                html_col=args.html_col,
                lm_keep=[b.strip() for b in args.lm_keep.split(",") if b.strip()]
                or None,
                lm_head=args.lm_head,
                lm_tail=args.lm_tail,
                host_quota=args.host_quota,
                robots_txt=(
                    spark.read.parquet(args.robots_txt)
                    if args.robots_txt
                    else None
                ),
                classifier_weights=(
                    spark.read.parquet(args.classifier_weights)
                    if args.classifier_weights
                    else None
                ),
                classifier_dims=args.classifier_dims,
                classifier_bias=args.classifier_bias,
                classifier_threshold=args.classifier_threshold,
            )
            to_write = out
            if args.shuffle_seed:
                # range partition + local sort: file k holds lower
                # positions than file k+1, rows sorted inside each —
                # a reader consuming files in order sees the global
                # training order without any single-partition sort
                to_write = out.repartitionByRange("position").sortWithinPartitions(
                    "position"
                )
            writer = to_write.write.mode("overwrite")
            if args.shard_budget:
                writer = writer.partitionBy("shard")
            writer.parquet(args.output)
            superseded = getattr(out, "_correctocr_superseded", None)
            if args.superseded_out:
                if superseded is None:
                    raise SystemExit(
                        "--superseded-out requires --index-dir with "
                        "--canonical quality (nothing can be retracted "
                        "in min_id mode)"
                    )
                superseded.write.mode("overwrite").parquet(args.superseded_out)
                n_sup = spark.read.parquet(args.superseded_out).count()
                print(f"superseded: {n_sup} previously-published docs -> "
                      f"{args.superseded_out}")
            # the write materialized the plan — drop the band/quality
            # caches the curation persisted (a long-lived driver reusing
            # this session would otherwise accumulate them per run)
            from .ops.cache import release_intermediates

            release_intermediates(out)
            kept = spark.read.parquet(args.output).count()
            total = docs.count()
            print(f"curated: kept {kept}/{total} documents -> {args.output}")
        elif args.command == "ingest":
            from .spark.warc import read_warc, warc_pages

            kwargs = dict(
                glob=args.glob,
                ok_only=not args.all_status,
                skip_bad=args.keep_errors,
            )
            if args.raw:
                pages = read_warc(spark, args.input, **kwargs)
                if args.partitions:
                    from pyspark.sql import functions as F

                    pages = pages.repartition(args.partitions, F.xxhash64("url"))
            else:
                pages = warc_pages(
                    spark, args.input, partitions=args.partitions,
                    extractor=args.extractor, **kwargs,
                )
            if args.wet_out and args.raw:
                raise SystemExit("--wet-out needs extraction; drop --raw")
            pages.write.mode("overwrite").parquet(args.output)
            n = spark.read.parquet(args.output).count()
            print(f"ingested: {n} pages at {args.output}")
            if args.wet_out:
                from .spark.warc import write_wet_shards

                # export from the just-written parquet (one extraction
                # pass total, not one per sink)
                manifest = write_wet_shards(
                    spark.read.parquet(args.output), args.wet_out
                ).collect()
                print(
                    f"wet: {sum(r.n_records for r in manifest)} records in "
                    f"{len(manifest)} shards at {args.wet_out}"
                )
            if args.wat_out:
                from .spark.warc import wat_records, write_wat_shards

                manifest = write_wat_shards(
                    wat_records(spark.read.parquet(args.output)), args.wat_out
                ).collect()
                print(
                    f"wat: {sum(r.n_records for r in manifest)} records in "
                    f"{len(manifest)} shards at {args.wat_out}"
                )
            if args.cdx_out:
                from .ops.webindex import cdx_index, cdxj_lines

                # index the raw segments themselves (offset/length must
                # point into the per-record-gzip INPUT files, not any
                # re-serialization) — one binaryFile task per segment;
                # urlkey sort gives the published query layout
                segs = (
                    spark.read.format("binaryFile")
                    .option("pathGlobFilter", args.glob)
                    .load(args.input)
                )
                lines = cdxj_lines(
                    cdx_index(segs, skip_bad=args.keep_errors).sort(
                        "urlkey", "cdx_ts"
                    )
                )
                lines.write.mode("overwrite").text(args.cdx_out)
                n_idx = spark.read.text(args.cdx_out).count()
                print(f"cdx: {n_idx} index records at {args.cdx_out}")
        elif args.command == "skew":
            from .ops.cleaning import skew_report

            df = spark.read.parquet(args.input)
            if args.host_of:
                from pyspark.sql import functions as F

                from .ops.filters import host_col

                df = df.withColumn("_skew_key", host_col(F.col(args.host_of)))
                key = "_skew_key"
            else:
                key = args.key
            rep = skew_report(
                df, key_col=key, text_col=args.text_col or None,
                top=args.top, hot_share_bp=args.hot_bp,
            )
            if args.output:
                rep.write.mode("overwrite").parquet(args.output)
                print(f"skew report: top {args.top} keys -> {args.output}")
            else:
                for r in rep.collect():
                    flag = " HOT" if r["hot"] else ""
                    print(
                        f"{r['key']}\trows={r['n_rows']}\tbytes={r['n_bytes']}\t"
                        f"row_bp={r['row_share_bp']}\tbyte_bp={r['byte_share_bp']}{flag}"
                    )
        elif args.command == "plan":
            # the driver contract lives at the repo root next to this
            # package, not inside it — a dev/ops introspection tool, so
            # the reverse import is lazy and loudly optional
            import io as _io
            import re as _re
            import sys as _sys
            from contextlib import redirect_stdout as _redirect

            try:
                import __spark_entry__ as _entry
            except ImportError:
                print(
                    "plan: __spark_entry__.py not importable — run from "
                    "the repo root (or add it to PYTHONPATH)",
                    file=_sys.stderr,
                )
                return 2
            qs = _entry.queries()
            if args.query == "list":
                oracled = set(_entry.oracle_sql())
                for name in qs:
                    print(f"{name}\t{'oracled' if name in oracled else 'rows-only'}")
                return 0
            if args.query not in qs:
                print(f"plan: unknown query {args.query!r} (try 'list')",
                      file=_sys.stderr)
                return 2
            # AQE wraps the unexecuted plan in AdaptiveSparkPlan and omits
            # the `[codegen id : N]` annotations; this command only
            # explains (never executes), so audit the static plan instead
            aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            try:
                df = qs[args.query](spark, args.sf_dir)
                buf = _io.StringIO()
                with _redirect(buf):
                    df.explain("formatted")
            finally:
                spark.conf.set("spark.sql.adaptive.enabled", aqe_before)
            plan = buf.getvalue()
            ex_kinds = {}
            for m in _re.finditer(
                r"\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\w+)", plan
            ):
                ex_kinds[m.group(1)] = ex_kinds.get(m.group(1), 0) + 1
            counts = {
                "broadcast_exchanges": len(_re.findall(r"\(\d+\) BroadcastExchange", plan)),
                # formatted mode annotates nodes with `[codegen id : N]`
                # (the tree-mode `WholeStageCodegen (N)` wrapper is absent)
                "codegen_spans": len(set(_re.findall(r"\[codegen id : (\d+)\]", plan))),
                "generates": len(_re.findall(r"\(\d+\) Generate", plan)),
                "windows": len(_re.findall(r"\(\d+\) Window\b", plan)),
            }
            python_nodes = sorted(set(
                _re.findall(r"\((?:\d+)\) (BatchEvalPython|ArrowEvalPython|"
                            r"MapInPandas|FlatMapGroupsInPandas|PythonMapInArrow)", plan)
            ))
            flags = []
            if "CartesianProduct" in plan:
                flags.append("CARTESIAN-PRODUCT")
            if "BatchEvalPython" in plan:
                flags.append("ROW-AT-A-TIME-PYTHON-UDF")
            print(f"query: {args.query}")
            for k, v in ex_kinds.items():
                print(f"exchange[{k}]: {v}")
            for k, v in counts.items():
                print(f"{k}: {v}")
            print(f"python_nodes: {', '.join(python_nodes) if python_nodes else 'none'}")
            for m in _re.finditer(r"PushedFilters: \[([^\]]*)\]", plan):
                if m.group(1):
                    print(f"pushed: {m.group(1)}")
            for m in _re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
                cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
                print(f"scan_cols: {','.join(cols)}")
            print("top_k: " + ("TakeOrderedAndProject" if "TakeOrderedAndProject" in plan else
                               "WindowGroupLimit" if "WindowGroupLimit" in plan else "none"))
            print(f"flags: {', '.join(flags) if flags else 'none'}")
            if args.full:
                print("\n" + plan)
            else:
                head = "\n".join(plan.splitlines()[:30])
                print("\n-- plan head --\n" + head)
        elif args.command == "stats":
            import json as _json

            from .spark.audit import bin_metrics
            from .spark.pipeline import CorrectionPipeline
            from .spark.report import report_counters

            res = load_resources(args.resources)
            pipe = CorrectionPipeline(spark, res)
            tokens = pipe.tokens(spark.read.parquet(args.input)).cache()
            for row in bin_metrics(tokens).collect():
                print(
                    f"bin {row['bin']}: {row['token_count']} tokens, "
                    f"{row['annotator_required']} annotator"
                )
            if args.make_settings:
                settings = derive_settings(report_counters(tokens, res, spark).collect())
                with open(args.make_settings, "w") as fh:
                    fh.write(_json.dumps({str(b): h for b, h in sorted(settings.items())}))
                print(f"settings: {len(settings)} bins -> {args.make_settings}")
            tokens.unpersist()
        return 0
    finally:
        if args.master != "from-submit":
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
