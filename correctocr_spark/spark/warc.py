"""WARC source and sink — the Common-Crawl on-disk form of the pages table.

Reader: ``spark.read.format("binaryFile")`` over a directory of WARC
files (plain or per-record gzip), then ``mapInPandas`` runs the pure
kernel parser (kernels/warc.py) — ONE task per WARC file, so a crawl
laid out as thousands of ~1 GB segment files parallelizes on the file
axis exactly as Common Crawl jobs do. No per-row Python: the UDF is
per-FILE, Arrow-batched on the way out.

Scale notes (100 TB): binaryFile materializes each file in one task —
correct for the CC layout (segments are sized for exactly this) but a
single giant WARC would not split; shard at write time instead (the
sink below writes one member-gzip WARC per partition, which IS the
splittable-at-member-boundary layout). After parse, repartition by
url hash before any keyed work — file order is crawl order, which is
host-clustered and therefore skewed.

The sink is the inverse proof: pages -> WARC shards -> reader recovers
the exact (url, warc_ts, html) set (pinned by tests/test_warc.py).
"""

from __future__ import annotations

import os
import re
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.warc import iter_pages, write_warc

#: the north-rule pages-table core: (url, warc_ts, html)
RAW_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
    ]
)

_SINK_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("n_records", T.LongType(), False),
    ]
)


def parse_warc_files(
    files: DataFrame, ok_only: bool = True, skip_bad: bool = False
) -> DataFrame:
    """Turn a binaryFile scan (batch OR streaming — any frame with a
    ``content`` binary column) into ``(url, warc_ts, html)`` rows via
    the kernel parser. Stateless mapInPandas: streaming-legal."""

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RAW_PAGES_SCHEMA.fields]
        for pdf in batches:
            for content in pdf["content"]:
                rows = [
                    (url, ts.replace(tzinfo=None) if ts is not None else None, bytes(html))
                    for url, ts, html in iter_pages(
                        bytes(content), skip_bad=skip_bad, ok_only=ok_only
                    )
                ]
                yield pd.DataFrame(rows, columns=cols)

    return files.select("content").mapInPandas(parse, schema=RAW_PAGES_SCHEMA)


def extract_pages(
    raw: DataFrame, partitions: int = 0, extractor: str = "density"
) -> DataFrame:
    """Add ``text`` (boilerplate-stripped extraction) and ``lang``
    (stopword-profile language ID) to raw ``(url, warc_ts, html)`` rows
    — one repartition by url hash breaks the crawl-order host
    clustering, then ONE mapInPandas adds both derived columns (the
    language profile runs on the just-extracted text in the same Arrow
    batch; no second shuffle, no join back). Stateless: applies to the
    streaming source too.

    ``extractor`` selects the extraction kernel: ``"density"`` (the
    default link-density heuristic — the flagship pipeline's contract)
    or ``"justext"`` (jusText-style stopword-density classification
    with context promotion, :func:`~..kernels.extract.justext_extract`)."""
    from ..kernels.extract import STOPWORDS, extract_text, justext_extract

    if extractor not in ("density", "justext"):
        raise ValueError(f"unknown extractor: {extractor!r}")
    extract_fn = extract_text if extractor == "density" else justext_extract

    if partitions:
        raw = raw.repartition(partitions, F.xxhash64("url"))

    langs = list(STOPWORDS)
    profiles = {lang: frozenset(STOPWORDS[lang]) for lang in langs}
    schema = T.StructType(
        list(RAW_PAGES_SCHEMA.fields)
        + [
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )

    def derive(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # EXACTLY ops.textstats.language_id's rule (whitespace tokens,
        # whole-token lowercase membership, strict-argmax in profile
        # order, no hits => 'und') so warc_pages.lang == language_id's
        # lang_pred on the same text — pinned by tests/test_warc.py
        def lang_of(text: str) -> str:
            words = [w.lower() for w in text.split()]
            if not words:
                return "und"
            best, best_hits = "und", 0
            for lang in langs:
                profile = profiles[lang]
                hits = sum(1 for w in words if w in profile)
                if hits > best_hits:
                    best, best_hits = lang, hits
            return best

        for pdf in batches:
            pdf = pdf.copy()
            pdf["text"] = [extract_fn(h) for h in pdf["html"]]
            pdf["lang"] = [lang_of(t) for t in pdf["text"]]
            yield pdf

    return raw.mapInPandas(derive, schema=schema)


def read_warc(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc*",
    ok_only: bool = True,
    skip_bad: bool = False,
) -> DataFrame:
    """Read WARC files into ``(url, warc_ts, html)`` rows.

    Only crawl *response* records become rows (warcinfo/request/metadata
    are skipped); ``ok_only`` drops non-2xx HTTP responses. Corrupt
    records RAISE (task failure — the job does not silently lose a
    segment's tail) unless ``skip_bad=True`` salvages the prefix.
    Timestamps come back as naive UTC, matching the parquet testdata
    convention.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    return parse_warc_files(files, ok_only=ok_only, skip_bad=skip_bad)


def warc_pages(
    spark: SparkSession,
    path: str,
    glob: str = "*.warc*",
    ok_only: bool = True,
    skip_bad: bool = False,
    partitions: int = 0,
    extractor: str = "density",
) -> DataFrame:
    """Full north-rule pages table from WARC input:
    ``(url, warc_ts, html, text, lang)`` —
    :func:`parse_warc_files` composed with :func:`extract_pages`."""
    raw = read_warc(spark, path, glob=glob, ok_only=ok_only, skip_bad=skip_bad)
    return extract_pages(raw, partitions=partitions, extractor=extractor)


def write_warc_shards(
    pages: DataFrame,
    out_dir: str,
    gzip_records: bool = True,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Write a pages DataFrame as WARC shards, one file per partition
    (member-gzip by default — the splittable Common Crawl layout), and
    RETURN the manifest ``(path, n_records)`` DataFrame. The write is
    the mapInPandas action itself; callers materialize the manifest.

    Local/posix paths only (executors open(2) the shard path) — on a
    cluster this is the pattern you back with a shared filesystem or
    swap the open for the object-store client.
    """
    os.makedirs(out_dir, exist_ok=True)
    df = pages.select("url", "warc_ts", "html")
    if partitions:
        df = df.repartition(partitions, F.xxhash64("url"))

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                ts_py = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                rows.append((url, ts_py, bytes(html) if html is not None else b""))
        if not rows:
            yield pd.DataFrame([], columns=["path", "n_records"])
            return
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        shard = os.path.join(out_dir, f"part-{pid:05d}.warc" + (".gz" if gzip_records else ""))
        write_warc(rows, shard, gzip_records=gzip_records)
        yield pd.DataFrame([(shard, len(rows))], columns=["path", "n_records"])

    return df.mapInPandas(dump, schema=_SINK_SCHEMA)


#: WET view of the pages table: (url, warc_ts, text)
WET_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def read_wet(
    spark: SparkSession,
    path: str,
    glob: str = "*.wet*",
    skip_bad: bool = False,
) -> DataFrame:
    """Read WET files (Common Crawl's extracted-text format: WARC
    *conversion* records) into ``(url, warc_ts, text)`` rows — the
    post-extraction projection of the pages table. Same per-file task
    model and strictness policy as :func:`read_warc`."""
    from ..kernels.warc import iter_text_records

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WET_SCHEMA.fields]
        for pdf in batches:
            for content in pdf["content"]:
                rows = [
                    (url, ts.replace(tzinfo=None) if ts is not None else None, text)
                    for url, ts, text in iter_text_records(
                        bytes(content), skip_bad=skip_bad
                    )
                ]
                yield pd.DataFrame(rows, columns=cols)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )
    return files.mapInPandas(parse, schema=WET_SCHEMA)


def write_wet_shards(
    pages: DataFrame,
    out_dir: str,
    text_col: str = "text",
    gzip_records: bool = True,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Write extracted text as WET shards (conversion records), one
    file per partition, returning the ``(path, n_records)`` manifest —
    the export half of the extraction stage: pages in as WARC, curated
    text out as WET, both in the crawl ecosystem's own formats."""
    from ..kernels.warc import write_wet

    os.makedirs(out_dir, exist_ok=True)
    df = pages.select("url", "warc_ts", F.col(text_col).alias("text"))
    if partitions:
        df = df.repartition(partitions, F.xxhash64("url"))

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows = []
        for pdf in batches:
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"], pdf["text"]):
                ts_py = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                rows.append((url, ts_py, text if text is not None else ""))
        if not rows:
            yield pd.DataFrame([], columns=["path", "n_records"])
            return
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        shard = os.path.join(out_dir, f"part-{pid:05d}.wet" + (".gz" if gzip_records else ""))
        write_wet(rows, shard, gzip_records=gzip_records)
        yield pd.DataFrame([(shard, len(rows))], columns=["path", "n_records"])

    return df.mapInPandas(dump, schema=_SINK_SCHEMA)


#: WAT metadata view of the pages table
WAT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("title", T.StringType(), True),
        T.StructField("meta_description", T.StringType(), True),
        T.StructField("canonical_url", T.StringType(), True),
        T.StructField(
            "links",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("href", T.StringType()),
                        T.StructField("anchor", T.StringType()),
                    ]
                )
            ),
            True,
        ),
    ]
)


#: ALLOWLIST of logical-plan node names known to be narrow (no shuffle,
#: no job on ``df.rdd``). The guard used to be a denylist of
#: shuffle-inducing names, but any wide node NOT in that set —
#: typed-API MapGroups/AppendColumns, or nodes added in a future Spark —
#: silently passed it and re-enabled the early-AQE-execution ``df.rdd``
#: hazard with no error signal. Inverted: anything unrecognized is
#: treated as non-scan-rooted, failing SAFE (ensure_parallelism becomes
#: a no-op, never an early job).
_NARROW_NODES = frozenset(
    {
        "Relation",          # file-source scan (parquet/csv/...)
        "LogicalRDD",        # localCheckpoint output / createDataFrame(rdd)
        "LocalRelation",     # driver-local literal data
        "OneRowRelation",
        "Range",             # spark.range
        "Project",
        "Filter",
        "Generate",          # explode/posexplode
        "SubqueryAlias",
        "View",
        "Union",
        "LocalLimit",
        "Sample",
        "ResolvedHint",
        "UnresolvedHint",
        # MapInPandas/mapPartitions outputs are narrow too, but .rdd on
        # them spins Python workers per probe — cheaper to no-op, so
        # they are deliberately NOT listed.
    }
)
_NODE_NAME_RE = re.compile(r"^[\s:+\-]*'?([A-Za-z]+)")


def _is_scan_rooted(df: DataFrame) -> bool:
    """True iff EVERY node of the analyzed logical plan is a known
    narrow operator (scan/project/filter/generate/union/coalesce ...),
    for which materializing ``df.rdd`` runs no job. Inspection is
    driver-side string parsing of the analyzed plan (NOT the executed
    plan, whose construction is exactly the AQE finalization we must
    avoid). Unrecognized node names fail safe (False)."""
    plan = df._jdf.queryExecution().analyzed().toString()
    for line in plan.splitlines():
        if not line.strip():
            continue
        m = _NODE_NAME_RE.match(line)
        if not m:
            return False
        node = m.group(1)
        if node == "Repartition":
            # `Repartition n, false` is coalesce — narrow, allowed;
            # `true` is a full shuffle
            if "true" in line:
                return False
        elif node not in _NARROW_NODES:
            return False
    return True


def ensure_parallelism(df: DataFrame, min_partitions: Optional[int] = None) -> DataFrame:
    """Repartition iff the plan has fewer partitions than the session's
    default parallelism.

    Row-local projections (the regex columns of :func:`wat_records`,
    the shingle/hash/HOF projections of ``ops/``) run at the UPSTREAM partition count — for a small local parquet file
    that is ONE scan split, so the work serializes onto one core however
    many the session has (measured 3-6x on the sf0.1 bench). At cluster
    scale the input already has thousands of splits and this is a no-op,
    so the extra text shuffle is never paid where it would actually hurt.

    SCAN-ROOTED inputs only: ``df.rdd`` (needed for the partition
    count) finalizes the AQE plan, which EXECUTES any shuffle stages in
    it — on a join/aggregate output that silently runs the job early
    and again at the real action. That precondition is now ENFORCED,
    not conventional: the analyzed logical plan is inspected first and
    any shuffle-inducing node (join/aggregate/window/sort/distinct/
    repartition/…) makes this a no-op — such plans already have a
    shuffle whose partition count AQE sizes itself, so the fix-up is
    both unsafe to probe and unnecessary. Sites that need a repartition
    on a wide plan use a plain ``repartition``.
    """
    if not _is_scan_rooted(df):
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: link extraction — RE2∩Java-safe: no lazy quantifiers, anchor text via
#: [^<]* (flat anchors; nested-markup anchors are the HTML kernel's job)
A_TAG_RE = r'<a [^>]*href="[^"]+"[^>]*>[^<]*</a>'
HREF_RE = r'href="([^"]+)"'
ANCHOR_RE = r">([^<]*)</a>"

#: page-metadata grammar (Java∩RE2): attribute-order-independent tag
#: matching, case folded via (?i)
_TITLE_RE = r"(?is)<title[^>]*>([^<]*)</title>"
_META_TAG_RE = r"(?i)<meta\b[^>]*>"
_DESC_NAME_RE = r"(?i)name\s*=\s*['\"]?description"
_CONTENT_RE = r"(?i)content\s*=\s*['\"]([^'\"]*)"
_LINK_TAG_RE = r"(?i)<link\b[^>]*>"
_CANONICAL_REL_RE = r"(?i)rel\s*=\s*['\"]?canonical"
_HREF_ATTR_RE = r"""(?i)href\s*=\s*['\"]([^'\"]*)"""


def page_meta_cols(html: Column) -> dict:
    """The title / meta-description / canonical-link expressions over a
    raw-HTML column, in output order — shared by :func:`wat_records` and
    ``ops.filters.page_metadata`` so the two surfaces are value-identical
    by construction."""
    # coalesce: a NULL html column must still yield '' fields
    title = F.coalesce(
        F.trim(
            F.regexp_replace(F.regexp_extract(html, _TITLE_RE, 1), r"\s+", " ")
        ),
        F.lit(""),
    )
    metas = F.regexp_extract_all(html, F.lit(_META_TAG_RE), 0)
    # F.get (0-based) not element_at: ANSI mode makes element_at
    # THROW on an empty array; get returns NULL out of bounds
    desc_tag = F.get(F.filter(metas, lambda m: m.rlike(_DESC_NAME_RE)), 0)
    desc = F.coalesce(F.regexp_extract(desc_tag, _CONTENT_RE, 1), F.lit(""))
    links = F.regexp_extract_all(html, F.lit(_LINK_TAG_RE), 0)
    canon_tag = F.get(F.filter(links, lambda m: m.rlike(_CANONICAL_REL_RE)), 0)
    canon = F.coalesce(F.regexp_extract(canon_tag, _HREF_ATTR_RE, 1), F.lit(""))
    return {"title": title, "meta_description": desc, "canonical_url": canon}


def wat_records(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    html_col: str = "html",
) -> DataFrame:
    """The WAT metadata table for a pages corpus: title / description /
    canonical link (:func:`page_meta_cols`) plus the per-page outlink
    array (``A_TAG_RE``/``HREF_RE``/``ANCHOR_RE`` kept IN-ROW as an
    ``array<struct<href, anchor>>`` — no explode, no shuffle; WAT is a
    per-record format, so the row stays page-grained).

    Entirely row-local column algebra at scan speed — the metadata half
    of the crawl ecosystem's WARC (raw) / WET (text) / WAT (metadata)
    triple; :func:`write_wat_shards` serializes it."""
    html = F.col(html_col)
    meta = page_meta_cols(html)
    links = F.transform(
        F.regexp_extract_all(html, F.lit(A_TAG_RE), 0),
        lambda t: F.struct(
            F.regexp_extract(t, HREF_RE, 1).alias("href"),
            F.regexp_extract(t, ANCHOR_RE, 1).alias("anchor"),
        ),
    )
    return ensure_parallelism(pages).select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("warc_ts"),
        meta["title"].alias("title"),
        meta["meta_description"].alias("meta_description"),
        meta["canonical_url"].alias("canonical_url"),
        links.alias("links"),
    )


def write_wat_shards(
    wat: DataFrame,
    out_dir: str,
    gzip_records: bool = True,
    partitions: Optional[int] = None,
) -> DataFrame:
    """Serialize a :func:`wat_records` table as WAT shards (WARC
    *metadata* records, deterministic sorted-key JSON envelopes), one
    file per partition — same sink shape and manifest contract as
    :func:`write_wet_shards`."""
    from ..kernels.warc import wat_payload, write_wat

    os.makedirs(out_dir, exist_ok=True)
    df = wat
    if partitions:
        df = df.repartition(partitions, F.xxhash64("url"))

    def dump(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        entries = []
        for pdf in batches:
            for _, row in pdf.iterrows():
                ts = row["warc_ts"]
                ts_py = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                raw_links = row["links"]
                # Arrow hands the array column back as a numpy array
                # (ambiguous truthiness) — only None means absent
                links = [
                    (l["href"], l["anchor"])
                    for l in (raw_links if raw_links is not None else [])
                ]
                payload = wat_payload(
                    row["url"],
                    ts_py,
                    row["title"] or "",
                    row["meta_description"] or "",
                    row["canonical_url"] or "",
                    links,
                )
                entries.append((row["url"], ts_py, payload))
        if not entries:
            yield pd.DataFrame([], columns=["path", "n_records"])
            return
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else 0
        shard = os.path.join(
            out_dir, f"part-{pid:05d}.wat" + (".gz" if gzip_records else "")
        )
        write_wat(entries, shard, gzip_records=gzip_records)
        yield pd.DataFrame([(shard, len(entries))], columns=["path", "n_records"])

    return df.mapInPandas(dump, schema=_SINK_SCHEMA)


def read_wat(
    spark: SparkSession,
    path: str,
    glob: str = "*.wat*",
    skip_bad: bool = False,
) -> DataFrame:
    """Read WAT files back into the :func:`wat_records` schema — the
    parse direction; ``read_wat(write_wat_shards(wat_records(pages)))``
    round-trips exactly (pinned by test_wat_roundtrip). Same per-file
    task model and strictness policy as :func:`read_warc`."""
    import json

    from ..kernels.warc import iter_metadata_records

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in WAT_SCHEMA.fields]
        for pdf in batches:
            for content in pdf["content"]:
                rows = []
                for url, ts, js in iter_metadata_records(
                    bytes(content), skip_bad=skip_bad
                ):
                    env = json.loads(js).get("Envelope", {})
                    hm = (
                        env.get("Payload-Metadata", {})
                        .get("HTTP-Response-Metadata", {})
                        .get("HTML-Metadata", {})
                    )
                    head = hm.get("Head", {})
                    metas = head.get("Metas") or [{}]
                    canon = head.get("Link") or [{}]
                    rows.append(
                        (
                            url,
                            ts.replace(tzinfo=None) if ts is not None else None,
                            head.get("Title", ""),
                            metas[0].get("content", ""),
                            canon[0].get("url", ""),
                            [
                                (l.get("url", ""), l.get("text", ""))
                                for l in hm.get("Links", [])
                            ],
                        )
                    )
                yield pd.DataFrame(rows, columns=cols)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("content")
    )
    return files.mapInPandas(parse, schema=WAT_SCHEMA)


def extraction_block_audit(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    min_block_chars: int = 8,
    max_link_density: float = 0.5,
) -> DataFrame:
    """Per-block extraction LINEAGE table — the audit artifact a
    10^12-page pipeline writes next to its extracted text so "why did
    the extractor drop this paragraph" is answerable without
    re-parsing: one row per non-empty DOM block with length, link
    density (floored bp) and the keep decision + reason, via
    :func:`~..kernels.extract.block_records` (the SAME blocks and
    thresholds as the flagship's ``extract_text``; joining the kept
    rows' text with ``\\n`` rebuilds its output byte-identically —
    pinned by tests).

    Returns ``(url, block_idx, n_chars, link_density_bp, kept,
    reason, block_text)``.

    Scale shape: one ``mapInPandas`` over Arrow batches (the
    pipeline's sanctioned vectorized-UDF family — HTML parsing is not
    SQL-expressible), rows fan out per block — stateless and
    shuffle-free; partition by url-hash upstream like the extract
    stage itself.
    """
    from ..kernels.extract import block_records

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("block_idx", T.IntegerType(), True),
            T.StructField("n_chars", T.LongType(), True),
            T.StructField("link_density_bp", T.LongType(), True),
            T.StructField("kept", T.BooleanType(), True),
            T.StructField("reason", T.StringType(), True),
            T.StructField("block_text", T.StringType(), True),
        ]
    )
    cols = [c.name for c in schema.fields]

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf["url"], pdf["html"]):
                for r in block_records(
                    html,
                    min_block_chars=min_block_chars,
                    max_link_density=max_link_density,
                ):
                    rows.append(
                        (
                            url,
                            r["block_idx"],
                            r["n_chars"],
                            r["link_density_bp"],
                            r["kept"],
                            r["reason"],
                            r["text"],
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    src = pages.select(F.col(url_col).alias("url"), F.col(html_col).alias("html"))
    return src.mapInPandas(audit, schema=schema)


def html_tables(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Structured ``<table>`` extraction over the pages table: one row
    per cell — ``(url, table_idx, row_idx, col_idx, header, cell)`` —
    via :func:`~..kernels.extract.table_records`. The tabular
    complement of the flagship's density extractor (which treats
    tables as boilerplate): a training-data pipeline lifts tables into
    rows instead of discarding them.

    Scale shape: same family as :func:`extraction_block_audit` — one
    stateless ``mapInPandas`` over Arrow batches (HTML parsing is not
    SQL-expressible), rows fan out per cell, no shuffle; nested tables
    index separately, entities decode, whitespace normalizes.
    """
    from ..kernels.extract import table_records

    schema = T.StructType(
        [
            T.StructField("url", T.StringType(), True),
            T.StructField("table_idx", T.IntegerType(), True),
            T.StructField("row_idx", T.IntegerType(), True),
            T.StructField("col_idx", T.IntegerType(), True),
            T.StructField("header", T.BooleanType(), True),
            T.StructField("cell", T.StringType(), True),
        ]
    )

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, html in zip(pdf[url_col], pdf[html_col]):
                for r in table_records(html):
                    rows.append(
                        (
                            url,
                            r["table_idx"],
                            r["row_idx"],
                            r["col_idx"],
                            r["header"],
                            r["cell"],
                        )
                    )
            yield pd.DataFrame(
                rows, columns=[c.name for c in schema.fields]
            )

    return pages.select(
        F.col(url_col).alias(url_col), F.col(html_col).alias(html_col)
    ).mapInPandas(parse, schema=schema)
