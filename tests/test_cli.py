"""CLI surface (python -m correctocr_spark)."""

import io
import json
import os
import subprocess
import sys
import traceback
from contextlib import redirect_stderr, redirect_stdout

import pytest

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_cli_process(*args):
    """``python -m correctocr_spark`` in a fresh process on its own session."""
    return subprocess.run(
        [sys.executable, "-m", "correctocr_spark", "--cores", "4", *args],
        capture_output=True, text=True, cwd=REPO, timeout=400,
        env={**os.environ, "PYTHONPATH": REPO},
    )


def run_cli(*args):
    """Run the CLI's ``main()`` in this process, on the ``spark`` fixture's
    session, and return its exit code and output as ``run_cli_process``
    does.

    ``--master from-submit`` makes ``main()`` take the active session and
    leave it running, so a command costs its own jobs and not a JVM and
    session start (12-15 s on 4 vCPUs). Callers must hold the ``spark``
    fixture. ``test_cli_prepare_and_resume`` keeps the process boundary.
    """
    from pyspark.sql import SparkSession

    from correctocr_spark.__main__ import main

    assert SparkSession.getActiveSession() is not None, "run_cli needs the spark fixture"
    out, err = io.StringIO(), io.StringIO()
    with redirect_stdout(out), redirect_stderr(err):
        try:
            code = main(["--master", "from-submit", *args])
        except SystemExit as e:  # the interpreter's own exit-code rules
            code = e.code
            if code is None:
                code = 0
            elif not isinstance(code, int):
                print(code, file=sys.stderr)
                code = 1
        except Exception:
            traceback.print_exc()
            code = 1
    return subprocess.CompletedProcess(list(args), code, out.getvalue(), err.getvalue())


@pytest.mark.slow
def test_cli_prepare_and_resume(tmp_path, spark):
    from correctocr_spark.spark.synth import synth_pages

    inp = str(tmp_path / "pages")
    synth_pages(spark, 30, seed=71).write.parquet(inp)

    out = str(tmp_path / "out")
    r = run_cli_process("prepare", "--input", inp, "--output", out, "--settings", "aggressive")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "prepared: 30 documents" in r.stdout

    # resume: nothing pending, still idempotent
    r = run_cli_process("prepare", "--input", inp, "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "prepared: 30 documents" in r.stdout


@pytest.mark.slow
@pytest.mark.engine
def test_cli_report(tmp_path, spark):
    """`report` prints the evaluation report, with the document totals
    that the token table's ``finalize`` reassembly gives."""
    from correctocr_spark.spark.pipeline import CorrectionPipeline
    from correctocr_spark.spark.synth import synth_pages

    inp = str(tmp_path / "pages")
    synth_pages(spark, 20, seed=21).write.parquet(inp)
    r = run_cli("report", "--input", inp)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "BIN 1" in r.stdout and "(A) gold == orig" in r.stdout

    pipe = CorrectionPipeline(spark)
    t = pipe.finalize(pipe.tokens(spark.read.parquet(inp))).agg(
        F.sum("index_count"), F.sum("token_count"), F.sum("hyphenated_count")
    ).first()
    assert f"Total documents included in evaluation: {20:10d}" in r.stdout
    assert f"Total tokens included in evaluation: {t[0]:10d}" in r.stdout
    assert f"Hyphenated: {t[2]:10d}" in r.stdout
    assert f"Tokens available for evaluation: {t[1]:10d}" in r.stdout


@pytest.mark.slow
def test_cli_dictionary(tmp_path, spark):
    spark.createDataFrame([("hello brave new-world",)], ["text"]).write.parquet(
        str(tmp_path / "docs")
    )
    out = str(tmp_path / "dict.txt")
    r = run_cli("dictionary", "--input", str(tmp_path / "docs"), "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    words = open(out).read().split("\n")
    assert "newworld" in words and "hello" in words


@pytest.mark.slow
def test_cli_prepare_pdf_format(tmp_path, spark):
    import glob
    import shutil

    ref = "/root/reference/cocrtests/test.pdf"
    if not os.path.isfile(ref):
        pytest.skip("reference test.pdf unavailable")
    d = tmp_path / "pdfs"
    d.mkdir()
    shutil.copy(ref, d / "doc1.pdf")
    out = str(tmp_path / "out")
    r = run_cli("prepare", "--format", "pdf", "--input", str(d), "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "prepared: 1 documents" in r.stdout
    assert glob.glob(out + "/corrected/**/*.parquet", recursive=True)


@pytest.mark.slow
def test_cli_dictionary_corpus_dir(tmp_path, spark):
    root = tmp_path / "corpus"
    (root / "g1").mkdir(parents=True)
    (root / "g1" / "a.txt").write_text("Zebra apple apple banana")
    out = str(tmp_path / "dict.txt")
    r = run_cli("dictionary", "--corpus-dir", str(root), "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    words = open(out).read().split()
    assert words == ["apple", "banana", "Zebra"]  # case-insensitive sort


@pytest.mark.slow
def test_cli_correct_gold_files(tmp_path, spark):
    """`correct` writes one <urlencoded-url>.txt gold file per document
    from the executors (commands.py:414-472 autocorrect path)."""
    import glob

    from correctocr_spark.spark.synth import synth_pages

    inp = str(tmp_path / "pages")
    synth_pages(spark, 10, seed=73).write.parquet(inp)
    out = str(tmp_path / "gold")
    r = run_cli("correct", "--input", inp, "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "corrected: 10 gold files" in r.stdout
    files = glob.glob(out + "/*.txt")
    assert len(files) == 10
    assert all(os.path.getsize(f) > 0 for f in files)


@pytest.mark.slow
def test_cli_index_terms(tmp_path, spark):
    """`index` over a pre-computed token table with two --term-file tags
    (commands.py:478-566: tag = file stem, terms normalized)."""
    rows = [
        ("d1", 0, "The", None), ("d1", 1, "swift", None), ("d1", 2, "Scan,", None),
        ("d1", 3, "sort", None), ("d1", 4, "ends", None), ("d1", 5, "merge", None),
    ]
    tokens = spark.createDataFrame(
        rows, "url string, idx int, original string, gold string"
    ).select("*", F.lit(False).alias("tail"), F.lit(False).alias("discarded"))
    tok_path = str(tmp_path / "tokens")
    tokens.write.parquet(tok_path)
    terms = tmp_path / "exec.txt"
    terms.write_text("Scan\nSORT\nmerge\n")  # normalization: lower+strip
    out = str(tmp_path / "index")
    r = run_cli(
        "index", "--tokens", tok_path, "--term-file", str(terms), "--output", out
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "index: 1 term runs" in r.stdout
    got = spark.read.parquet(out).collect()
    assert len(got) == 1 and got[0]["run_text"] == "Scan, sort"
    assert got[0]["run_tags"] == "exec"


@pytest.mark.slow
def test_cli_stats_make_settings(tmp_path, spark):
    """`stats` prints per-bin metrics and --make-settings derives a
    normalizable settings.json from the evaluation counters."""
    import json

    from correctocr_spark.spark.synth import synth_pages

    inp = str(tmp_path / "pages")
    synth_pages(spark, 10, seed=74).write.parquet(inp)
    settings_path = str(tmp_path / "settings.json")
    r = run_cli("stats", "--input", inp, "--make-settings", settings_path)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "bin " in r.stdout and "settings:" in r.stdout
    settings = json.loads(open(settings_path).read())
    assert settings  # at least one populated bin
    from correctocr_spark.kernels.heuristics import normalize_settings

    norm = normalize_settings(settings)  # valid codes, int-coercible bins
    assert set(norm) == set(range(1, 11))


@pytest.mark.slow
def test_cli_curate(tmp_path, spark):
    """End-to-end curation: quality gate + dedup canonicals + shard
    packing, written partitioned by shard."""
    import glob

    rows = []
    for i in range(20):
        # unique tokens interleaved with stopwords: quality passes, but
        # no 3-shingle is shared across docs (no accidental near-dups)
        text = " ".join(
            f"w{i}x{j} {sw}" for j, sw in enumerate(
                ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
            )
        )
        rows.append((i, text, "en"))
    rows.append((100, rows[0][1], "en"))       # exact dup of doc 0 -> dropped
    rows.append((101, "x", "en"))              # fails the quality gate
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        str(tmp_path / "docs")
    )
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--shard-budget", "60",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "curated: kept" in r.stdout
    got = spark.read.parquet(out)
    ids = {x["doc_id"] for x in got.select("doc_id").collect()}
    assert 100 not in ids and 101 not in ids     # dup + low-quality dropped
    assert 0 in ids and len(ids) >= 2            # canonical kept
    assert got.select("shard").distinct().count() > 1  # actually sharded
    assert glob.glob(out + "/shard=*/")          # partitioned layout


def test_cli_curate_mix(tmp_path, spark):
    """--mix rebalances the surviving corpus to target blend shares
    after the quality/dedup stages (unlisted groups dropped)."""
    stop = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
    rows = []
    for i in range(60):
        lang = "en" if i < 40 else "fr"
        text = " ".join(f"w{i}x{j} {sw}" for j, sw in enumerate(stop))
        rows.append((i, text, lang))
    rows.append((200, " ".join(f"z{j} {sw}" for j, sw in enumerate(stop)), "zh"))
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        str(tmp_path / "docs")
    )
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--mix", "en=0.5,fr=0.5",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = spark.read.parquet(out)
    by_lang = {x["lang"]: x["n"] for x in got.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert "zh" not in by_lang                  # unlisted group dropped
    assert by_lang["fr"] == 20                  # bottleneck keeps all
    assert abs(by_lang.get("en", 0) - 20) <= 8  # ~rate 0.5 of 40, hash noise
    # malformed --mix fails with a clear message, not a stack trace
    r2 = run_cli(
        "curate", "--input", str(tmp_path / "docs"),
        "--output", str(tmp_path / "c2"), "--mix", "en:0.5",
    )
    assert r2.returncode != 0 and "group=share" in (r2.stderr + r2.stdout)


@pytest.mark.slow
def test_cli_curate_filter_gates(tmp_path, spark):
    """--blocklist drops pages whose url host is a blocked domain (or a
    subdomain of one); --gopher applies the published document rules as
    an inline pre-dedup filter."""
    stop = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
    rows = []
    for i in range(8):
        text = " ".join(f"w{i}x{j} {stop[j % 10]}" for j in range(30))  # 60 words
        host = "spam.example" if i in (3, 5) else f"good{i}.org"
        rows.append((i, text, "en", f"https://sub.{host}/p/{i}"))
    # gopher-fail: 60 words but every line a bullet (passes min_quality=0)
    bullets = "\n".join("- " + " ".join(f"b{j+k} the of" for j in range(3))
                        for k in range(0, 30, 3))
    rows.append((20, bullets, "en", "https://good20.org/p"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.parquet(str(tmp_path / "docs"))
    bl = tmp_path / "blocked.txt"
    bl.write_text("# comment line\nspam.example\n\nother.invalid\n")
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--min-quality", "0", "--gopher", "--blocklist", str(bl),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    ids = {x["doc_id"] for x in spark.read.parquet(out).select("doc_id").collect()}
    assert ids == {0, 1, 2, 4, 6, 7}  # 3,5 blocked by host; 20 by rules


@pytest.mark.slow
def test_cli_curate_badwords(tmp_path, spark):
    """--badwords drops docs whose soft-word density exceeds
    --max-badword-ratio."""
    stop = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
    rows = []
    for i in range(4):
        rows.append((i, " ".join(f"w{i}x{j} {stop[j % 10]}" for j in range(30)), "en"))
    spam = " ".join(f"w9x{j} {stop[j % 10]}" for j in range(12)) + " " + " ".join(["casino spins"] * 6)
    rows.append((9, spam, "en"))
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        str(tmp_path / "docs")
    )
    bw = tmp_path / "badwords.txt"
    bw.write_text("casino\nspins\n")
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--min-quality", "0", "--badwords", str(bw),
    )
    assert r.returncode == 0, r.stderr[-2000:]
    ids = {x["doc_id"] for x in spark.read.parquet(out).select("doc_id").collect()}
    assert ids == {0, 1, 2, 3}


@pytest.mark.slow
def test_cli_curate_shuffle_seed(tmp_path, spark):
    """--shuffle-seed writes the corpus in seeded global training order:
    files range-partitioned by position, rows sorted within each, so
    reading files in name order replays the order."""
    stop = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
    rows = [
        (i, " ".join(f"w{i}x{j} {stop[j % 10]}" for j in range(30)), "en")
        for i in range(30)
    ]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(
        str(tmp_path / "docs")
    )
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--min-quality", "0", "--shuffle-seed", "epoch0",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    import glob
    import hashlib

    positions = []
    for f in sorted(glob.glob(out + "/part-*.parquet")):
        positions.extend(
            x["position"] for x in spark.read.parquet(f).select("position").collect()
        )
    assert positions == sorted(positions) == list(range(1, 31))
    got = {
        x["doc_id"]: x["position"]
        for x in spark.read.parquet(out).select("doc_id", "position").collect()
    }
    order = sorted(got, key=lambda i: (hashlib.md5(f"epoch0:{i}".encode()).hexdigest(), i))
    assert [got[d] for d in order] == list(range(1, 31))


@pytest.mark.slow
def test_cli_ingest_warc(tmp_path, spark):
    """WARC crawl segments -> north-rule pages parquet, then prepare
    --format warc drives the extraction+correction pipeline straight
    off the same WARC directory."""
    from correctocr_spark.spark.synth import synth_pages
    from correctocr_spark.spark.warc import write_warc_shards

    src = synth_pages(spark, 24, seed=19, partitions=3)
    warc_dir = str(tmp_path / "warc")
    assert sum(
        r.n_records for r in write_warc_shards(src, warc_dir, partitions=2).collect()
    ) == 24

    out = str(tmp_path / "pages")
    r = run_cli("ingest", "--input", warc_dir, "--output", out, "--partitions", "4")
    assert r.returncode == 0, r.stderr[-2000:]
    assert "ingested: 24 pages" in r.stdout
    got = spark.read.parquet(out)
    assert [f.name for f in got.schema.fields] == ["url", "warc_ts", "html", "text", "lang"]
    truth = {r2.url: r2.text for r2 in src.collect()}
    for row in got.collect():
        assert row.text == truth[row.url]

    corr = str(tmp_path / "corrected")
    r = run_cli("prepare", "--format", "warc", "--input", warc_dir, "--output", corr)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "prepared: 24 documents" in r.stdout


@pytest.mark.slow
def test_cli_curate_host_quota(tmp_path, spark):
    """--host-quota N keeps at most N docs per url host (longest text
    first), leaving under-quota hosts whole."""
    stop = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
    rows = []
    for i in range(9):
        # ids 0-6 share bulk.example; 7-8 live on their own hosts.
        # length grows with i so the cap must keep 4,5,6 of the bulk host
        text = " ".join(f"w{i}x{j} {stop[j % 10]}" for j in range(30 + 2 * i))
        host = "bulk.example" if i < 7 else f"solo{i}.org"
        rows.append((i, text, "en", f"https://{host}/p/{i}"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.parquet(str(tmp_path / "docs"))
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--min-quality", "0", "--host-quota", "3",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    ids = {x["doc_id"] for x in spark.read.parquet(out).select("doc_id").collect()}
    assert ids == {4, 5, 6, 7, 8}


@pytest.mark.slow
def test_cli_ingest_cdx_out(tmp_path, spark):
    """ingest --cdx-out writes a urlkey-sorted CDXJ index whose
    (filename, offset, length) triples range-read the INPUT segments."""
    from correctocr_spark.kernels.warc import parse_warc
    from correctocr_spark.spark.synth import synth_pages
    from correctocr_spark.spark.warc import write_warc_shards
    from correctocr_spark.ops.webindex import parse_cdxj

    src = synth_pages(spark, 12, seed=23, partitions=2)
    warc_dir = str(tmp_path / "warc")
    write_warc_shards(src, warc_dir, partitions=2).collect()

    out, cdx = str(tmp_path / "pages"), str(tmp_path / "cdx")
    r = run_cli("ingest", "--input", warc_dir, "--output", out,
                "--cdx-out", cdx)
    assert r.returncode == 0, r.stderr[-2000:]
    assert "cdx: 12 index records" in r.stdout
    idx = parse_cdxj(spark.read.text(cdx)).collect()
    assert len(idx) == 12 and all(x["urlkey"] for x in idx)
    # range-read one record per referenced file
    seen = set()
    for row in idx:
        if row["filename"] in seen:
            continue
        seen.add(row["filename"])
        data = open(str(tmp_path / "warc" / row["filename"]), "rb").read()
        rec = list(parse_warc(data[row["offset"]: row["offset"] + row["length"]]))[0]
        assert rec.uri == row["url"]


@pytest.mark.slow
def test_cli_curate_all_gates_compose(tmp_path, spark):
    """Integration smoke: every curate gate active at once — robots.txt
    fetch gate, domain blocklist, Gopher rules, badwords, host quota,
    seeded shuffle — and the survivor set is exactly the docs that pass
    ALL of them, in a reproducible global order."""
    stop = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]

    def good_text(i, n=60):
        return " ".join(f"w{i}x{j} {stop[j % 10]}" for j in range(n))

    rows = []
    for i in range(12):
        host = "blocked.example" if i == 1 else "h.com"
        path = "private" if i == 2 else "pub"
        text = good_text(i, 20 + 2 * i) if i != 3 else "- b\n- c\n- d"
        if i == 4:
            text = good_text(i, 24) + " " + " ".join(["casino spins"] * 6)
        rows.append((i, text, "en", f"https://{host}/{path}/{i}"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.parquet(str(tmp_path / "docs"))

    spark.createDataFrame(
        [("h.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, content string",
    ).write.parquet(str(tmp_path / "robots"))
    (tmp_path / "blocked.txt").write_text("blocked.example\n")
    (tmp_path / "bad.txt").write_text("casino\nspins\n")

    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--min-quality", "0",
        "--robots-txt", str(tmp_path / "robots"),
        "--blocklist", str(tmp_path / "blocked.txt"),
        "--gopher",
        "--badwords", str(tmp_path / "bad.txt"),
        "--host-quota", "5",
        "--shuffle-seed", "s1",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = spark.read.parquet(out).select("doc_id", "position").collect()
    ids = {x["doc_id"] for x in got}
    # dropped: 1 (blocked host), 2 (robots /private/), 3 (gopher: all
    # bullets + too short), 4 (badwords); survivors 0,5..11 = 8 docs,
    # host quota 5 keeps the 5 LONGEST (ids 7..11)
    assert ids == {7, 8, 9, 10, 11}
    # seeded order: dense positions 1..5, reproducible
    assert sorted(x["position"] for x in got) == [1, 2, 3, 4, 5]


@pytest.mark.slow
def test_cli_ingest_wat_out(tmp_path, spark):
    """ingest --wat-out exports the metadata (WAT) view alongside the
    pages parquet, and read_wat round-trips it."""
    from correctocr_spark.spark.synth import synth_pages
    from correctocr_spark.spark.warc import read_wat, wat_records, write_warc_shards

    src = synth_pages(spark, 12, seed=23, partitions=2)
    warc_dir = str(tmp_path / "warc")
    write_warc_shards(src, warc_dir, partitions=1).collect()

    out = str(tmp_path / "pages")
    wat_dir = str(tmp_path / "wat")
    r = run_cli(
        "ingest", "--input", warc_dir, "--output", out, "--wat-out", wat_dir
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "wat: 12 records" in r.stdout
    back = read_wat(spark, wat_dir)
    want = sorted(
        tuple(x) for x in wat_records(spark.read.parquet(out)).collect()
    )
    assert sorted(tuple(x) for x in back.collect()) == want


@pytest.mark.slow
def test_cli_curate_classifier_gate(tmp_path, spark):
    """--classifier-weights drops docs whose hashed-linear logit falls
    below --classifier-threshold; survivors match the op applied
    directly."""
    import hashlib

    stop = ["the", "of", "and", "to", "in", "is", "was", "for", "that", "with"]
    rows = [
        (i, " ".join(f"tok{i}x{j} {stop[j % 10]}" for j in range(40)),
         "en", f"https://h{i}.org/p/{i}")
        for i in range(12)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, url string"
    ).write.parquet(str(tmp_path / "docs"))
    dims = 32
    spark.range(dims).selectExpr(
        "id AS bucket", "CAST(((id * 11) % 9 - 4) * 100 AS LONG) AS weight"
    ).write.parquet(str(tmp_path / "w"))
    out = str(tmp_path / "curated")
    r = run_cli(
        "curate", "--input", str(tmp_path / "docs"), "--output", out,
        "--min-quality", "0",
        "--classifier-weights", str(tmp_path / "w"),
        "--classifier-dims", str(dims), "--classifier-threshold", "0",
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = {x["doc_id"] for x in spark.read.parquet(out).select("doc_id").collect()}

    def bucket(w):
        return int(hashlib.md5(w.lower().encode()).hexdigest()[:15], 16) % dims

    want = set()
    for i, text, _, _ in rows:
        ws = text.split()
        s = sum(((bucket(w) * 11) % 9 - 4) * 100 for w in ws)
        q = abs(s) // len(ws)
        if (q if s >= 0 else -q) >= 0:
            want.add(i)
    assert got == want and 0 < len(want) < 12


@pytest.mark.slow
def test_cli_skew_report(tmp_path, spark):
    inp = str(tmp_path / "pages")
    rows = [("https://hot.example/p/%d" % i, "x" * 50) for i in range(8)] + [
        ("https://c%d.example/p" % i, "y" * 10) for i in range(4)
    ]
    spark.createDataFrame(rows, ["url", "text"]).write.parquet(inp)

    r = run_cli("skew", "--input", inp, "--host-of", "url", "--hot-bp", "5000")
    assert r.returncode == 0, r.stderr[-2000:]
    lines = [l for l in r.stdout.splitlines() if "\trows=" in l]
    assert lines, r.stdout
    hot = [l for l in lines if l.startswith("hot.example\t")]
    assert hot and hot[0].endswith(" HOT")  # 8/12 rows > 50% threshold
    assert "rows=8" in hot[0]

    out = str(tmp_path / "rep")
    r = run_cli("skew", "--input", inp, "--key", "url", "--output", out)
    assert r.returncode == 0, r.stderr[-2000:]
    rep = spark.read.parquet(out)
    assert rep.count() == 12  # every url key distinct, top default 20
    assert set(rep.columns) == {
        "key", "n_rows", "n_bytes", "row_share_bp", "byte_share_bp", "hot"
    }


@pytest.mark.slow
def test_cli_plan_audit(spark):
    # registry listing marks oracled vs rows-only
    r = run_cli("plan", "list")
    assert r.returncode == 0, r.stderr[-2000:]
    lines = dict(l.split("\t") for l in r.stdout.splitlines() if "\t" in l)
    assert lines.get("word_freq") == "oracled"
    assert "rows-only" in lines.values()

    # audit of a known query: one hash exchange, scan pruned to text,
    # codegen spans visible (AQE disabled for the static explain)
    r = run_cli("plan", "word_freq")
    assert r.returncode == 0, r.stderr[-2000:]
    out = r.stdout
    assert "query: word_freq" in out
    assert "exchange[hashpartitioning]: 1" in out
    assert "scan_cols: text" in out
    m = [l for l in out.splitlines() if l.startswith("codegen_spans: ")]
    assert m and int(m[0].split(": ")[1]) >= 1
    assert "flags: none" in out

    # unknown query exits 2 with a hint
    r = run_cli("plan", "no_such_query")
    assert r.returncode == 2
    assert "unknown query" in r.stderr
