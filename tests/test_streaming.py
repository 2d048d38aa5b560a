"""Streaming forms agree with the batch plans on identical input."""

import numpy.testing as npt
import pandas as pd
import pytest
from pyspark.sql import functions as F

from verde_spark.functions.cells import cell_encode
from verde_spark.functions.text import quality_score
from verde_spark.sources.pages import geotag_lat, geotag_lon, synthesize_pages
from verde_spark.streaming import (
    run_to_memory,
    stream_pages,
    streaming_cell_blockmean,
    streaming_dedup,
)


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pages_stream"))
    # two "arrivals" = two files
    synthesize_pages(spark, 400, seed=42).write.mode("append").parquet(path)
    synthesize_pages(spark, 400, seed=43).write.mode("append").parquet(path)
    return path


def test_streaming_cell_blockmean_matches_batch(spark, pages_dir):
    stream = streaming_cell_blockmean(
        stream_pages(spark, pages_dir), resolution=6, window_duration="10 minutes"
    )
    run_to_memory(stream, "cellmeans", mode="update")
    got = spark.sql("select cell, n_pages, mean_value from cellmeans").toPandas()

    batch = spark.read.parquet(pages_dir)
    tagged = batch.withColumn("lon", geotag_lon("text")).withColumn("lat", geotag_lat("text"))
    expected = (
        tagged.filter(F.col("lon").isNotNull())
        .groupBy(cell_encode("lon", "lat", 6).alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_pages"), F.avg(quality_score("text")).alias("mean_value"))
        .toPandas()
    )
    g = got.groupby("cell")[["n_pages"]].sum().sort_index()
    e = expected.set_index("cell")[["n_pages"]].sort_index()
    # all pages share one 10-min window (warc_ts spans ~400s) → counts match
    assert g["n_pages"].sum() == e["n_pages"].sum() == 800
    pd.testing.assert_frame_equal(g, e)


def test_streaming_dedup(spark, pages_dir):
    # seeds 42/43 produce disjoint texts; duplicate file contents would drop
    stream = streaming_dedup(stream_pages(spark, pages_dir), watermark="1 hour")
    run_to_memory(stream, "dedup", mode="append")
    n = spark.sql("select count(*) c from dedup").first()["c"]
    batch_distinct = spark.read.parquet(pages_dir).select("text").distinct().count()
    assert n == batch_distinct


def test_streaming_cell_reservoir_stateful(spark, pages_dir):
    # custom stateful operator: bounded per-cell reservoir across batches
    from verde_spark.streaming import streaming_cell_reservoir

    k = 5
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).option("maxFilesPerTrigger", 1).parquet(pages_dir)  # force >=2 micro-batches
    res = streaming_cell_reservoir(stream, k=k, resolution=4)
    run_to_memory(res, "reservoir", mode="update")
    got = spark.sql(
        "select * from (select *, row_number() over (partition by cell, slot order by seen desc) rn"
        " from reservoir) where rn = 1"
    ).toPandas()

    batch = spark.read.parquet(pages_dir)
    tagged = batch.withColumn("lon", geotag_lon("text")).withColumn("lat", geotag_lat("text"))
    per_cell = (
        tagged.filter(F.col("lon").isNotNull())
        .groupBy(cell_encode("lon", "lat", 4).alias("cell"))
        .agg(F.count(F.lit(1)).alias("n"), F.collect_set("lon").alias("lons"))
        .toPandas()
        .set_index("cell")
    )
    final = got.groupby("cell").agg(n_slots=("slot", "count"), seen=("seen", "max"))
    for cell, row in final.iterrows():
        assert row["seen"] == per_cell.loc[cell, "n"]          # state survived batches
        assert row["n_slots"] == min(k, per_cell.loc[cell, "n"])  # bounded reservoir
    # every sampled point is a real point of its cell
    # (zip, not iterrows: iterrows would upcast the int64 cell id to float)
    for cell_id, lon in zip(got["cell"], got["lon"]):
        assert lon in set(per_cell.loc[cell_id, "lons"])


def test_stream_to_tile_store_upsert_and_resume(spark, tmp_path):
    """foreachBatch + dynamic partition overwrite = exact upsert when the
    partition cols cover the grouping key; restart processes only new
    files; result equals the batch aggregate over all data."""
    import os

    from pyspark.sql import functions as F

    from verde_spark.streaming import (
        stream_pages,
        stream_to_tile_store,
        streaming_cell_blockmean,
    )

    pages_dir = str(tmp_path / "pages")
    synthesize_pages(spark, 400, seed=42).write.mode("append").parquet(pages_dir)
    synthesize_pages(spark, 400, seed=43).write.mode("append").parquet(pages_dir)
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    def flat(df):
        return df.select(
            F.col("win.start").cast("long").alias("win_start"),
            "cell", "n_pages", "mean_value",
        )

    agg = flat(streaming_cell_blockmean(stream_pages(spark, pages_dir), resolution=4))
    q = stream_to_tile_store(agg, store, ckpt, partition_cols=("win_start", "cell"))
    q.awaitTermination()
    # restart with one more source file: only the new file is processed
    synthesize_pages(spark, 300, seed=44).write.mode("append").parquet(pages_dir)
    agg2 = flat(streaming_cell_blockmean(stream_pages(spark, pages_dir), resolution=4))
    q2 = stream_to_tile_store(agg2, store, ckpt, partition_cols=("win_start", "cell"))
    q2.awaitTermination()

    got = (
        spark.read.parquet(store)
        .select("win_start", "cell", "n_pages", "mean_value")
        .orderBy("win_start", "cell")
        .toPandas()
    )
    # batch oracle over ALL data
    from verde_spark.functions.cells import cell_encode
    from verde_spark.functions.text import quality_score
    from verde_spark.sources.pages import geotag_lat, geotag_lon

    pages = spark.read.parquet(pages_dir)
    tagged = pages.withColumn("lon", geotag_lon("text")).withColumn("lat", geotag_lat("text"))
    want = (
        tagged.filter(F.col("lon").isNotNull())
        .select(
            F.window("warc_ts", "10 minutes").alias("win"),
            cell_encode("lon", "lat", 4).alias("cell"),
            quality_score("text").alias("value"),
        )
        .groupBy("win", "cell")
        .agg(F.count(F.lit(1)).alias("n_pages"), F.avg("value").alias("mean_value"))
        .select(
            F.col("win.start").cast("long").alias("win_start"),
            "cell", "n_pages", "mean_value",
        )
        .orderBy("win_start", "cell")
        .toPandas()
    )
    assert got["n_pages"].tolist() == want["n_pages"].tolist()
    npt.assert_allclose(got["mean_value"], want["mean_value"], rtol=1e-12)
    # layout: physically partitioned by (win_start, cell) → pruning works
    assert any(d.startswith("win_start=") for d in os.listdir(store))
    with pytest.raises(ValueError, match="partition_cols"):
        stream_to_tile_store(agg2, store, ckpt, partition_cols=("nope",))
    # a windowed aggregate partitioned only by cell would let dynamic
    # overwrite DELETE sibling-window rows of every updated cell — the
    # writer must refuse rather than lose data silently (review r5)
    with pytest.raises(ValueError, match="sibling-window"):
        stream_to_tile_store(agg2, store, ckpt, partition_cols=("cell",))


def test_streaming_dedup_url(spark, tmp_path):
    """Messy variants of the same canonical url collapse across
    micro-batch files; the survivor count equals the batch-side count of
    distinct canonical urls."""
    from pyspark.sql import functions as F

    from verde_spark.functions.urls import canonical_url
    from verde_spark.streaming import streaming_dedup_url

    path = str(tmp_path / "pages")
    base = synthesize_pages(spark, 300, seed=42)
    messy = base.withColumn(
        "url",
        F.concat(
            F.element_at(
                F.array(F.lit("http://Example.com:80"), F.lit("HTTP://example.COM")),
                (F.pmod(F.xxhash64("url"), 2) + 1).cast("int"),
            ),
            F.lit("/p"),
            F.pmod(F.xxhash64("url", F.lit(1)), 40).cast("string"),
            F.lit("?utm_source=s"),
        ),
    )
    messy.limit(150).write.mode("append").parquet(path)
    messy.write.mode("append").parquet(path)

    stream = streaming_dedup_url(stream_pages(spark, path), watermark="1 hour")
    run_to_memory(stream, "dedup_url_t", mode="append")
    n = spark.sql("select count(*) c from dedup_url_t").first()["c"]
    batch = (
        spark.read.parquet(path)
        .select(canonical_url("url").alias("c"))
        .distinct()
        .count()
    )
    assert n == batch == 40


def test_streaming_clean_corpus(spark, tmp_path):
    """Gates + url dedup + content dedup as one continuous query: the
    stream's survivor count equals the batch recipe's on the same files
    (representative choice differs by documented semantics)."""
    from pyspark.sql import functions as F

    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    good = "the cat sat on the mat and it is a fine day for walking"
    rows = []
    for i in range(30):
        text = f"{good} {i % 10}"  # 10 distinct texts across 30 docs
        rows.append((f"HTTP://Example.com:80/p{i % 15}?utm_source=x",  # 15 canonical urls
                     f"2024-01-01 00:00:{i:02d}", text))
    rows.append(("http://example.com/junk", "2024-01-01 00:01:00", "buy now " * 20))
    df = spark.createDataFrame(rows, "url string, warc_ts string, text string").withColumn(
        "warc_ts", F.to_timestamp("warc_ts")
    )
    path = str(tmp_path / "pages")
    df.limit(16).write.mode("append").parquet(path)
    df.write.mode("append").parquet(path)

    stored = spark.read.parquet(path)
    batch_n = clean_corpus(
        stored, min_tokens=5, min_stopword_ratio=0.2, max_repetition=0.5
    ).count()

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(
        stream, watermark="1 hour", min_tokens=5,
        min_stopword_ratio=0.2, max_repetition=0.5,
    )
    run_to_memory(out, "clean_stream", mode="append")
    n = spark.sql("select count(*) c from clean_stream").first()["c"]
    # url-dedup → 15 canonical survivors → 10 distinct texts; junk gated
    assert n == batch_n == 10


def test_streaming_clean_corpus_normalize_dedup(spark, tmp_path):
    """normalize_dedup=True keys the content-dedup state on the
    CCNet-normalized fingerprint: case/digit variants of one page
    collapse in the stream exactly as in the batch recipe."""
    from pyspark.sql import functions as F

    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    base = "the cat sat on the mat and it is a fine day for walking"
    rows = [
        ("http://a.com/1", "2024-01-01 00:00:01", base + " 111"),
        ("http://b.com/2", "2024-01-01 00:00:02", base.upper() + " 999"),
        ("http://c.com/3", "2024-01-01 00:00:03",
         "an entirely different page about the cat and the mat today"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "pages_norm")
    df.write.mode("append").parquet(path)

    stored = spark.read.parquet(path)
    batch_n = clean_corpus(
        stored, min_tokens=5, min_stopword_ratio=0.2, normalize_dedup=True
    ).count()

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(
        stream, watermark="1 hour", min_tokens=5,
        min_stopword_ratio=0.2, normalize_dedup=True,
    )
    run_to_memory(out, "clean_stream_norm", mode="append")
    n = spark.sql("select count(*) c from clean_stream_norm").first()["c"]
    assert n == batch_n == 2
    # and without the flag the variants both survive
    plain_n = clean_corpus(
        stored, min_tokens=5, min_stopword_ratio=0.2
    ).count()
    assert plain_n == 3


def test_streaming_clean_corpus_decontam_and_redact(spark, tmp_path):
    """Round-4 stages in the streaming twin: benchmark decontamination as
    a stateless projection filter + PII redaction column — survivor set
    matches the batch recipe with the same stages."""
    from pyspark.sql import functions as F

    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    leak = ("the secret benchmark answer is hidden under the mat "
            "beside the old barn door")  # 14 words -> 2 grams
    rows = []
    for i in range(12):
        text = (f"the cat sat on the mat and it is a fine day number {i} "
                f"mail me at user{i}@ex.org")
        if i in (3, 7):
            text += " " + leak
        rows.append((f"http://example.com/p{i}",
                     f"2024-01-01 00:00:{i:02d}", text))
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "pages_r4")
    df.write.mode("append").parquet(path)
    bench = spark.createDataFrame([(leak,)], "text string")

    stored = spark.read.parquet(path)
    batch = clean_corpus(
        stored, min_stopword_ratio=0.2, benchmark=bench, redact=True
    ).toPandas()
    assert len(batch) == 10  # docs 3 and 7 decontaminated away

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(
        stream, watermark="1 hour", min_stopword_ratio=0.2,
        benchmark=bench, redact=True,
    )
    run_to_memory(out, "clean_stream_r4", mode="append")
    got = spark.sql("select * from clean_stream_r4").toPandas()
    assert sorted(got["url"]) == sorted(batch["url"])
    assert "text_clean" in got.columns
    assert got["text_clean"].str.contains("<EMAIL>").all()
    assert got["text"].str.contains("@ex.org").all()  # original untouched


def test_streaming_clean_corpus_crawl_gates(spark, tmp_path):
    """Late-r4 crawl-policy gates in the streaming twin: blocklist and
    robots-noindex run as stateless projections (no stream-side join or
    state) — survivor set matches the batch recipe with the same gates."""
    from pyspark.sql import functions as F

    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    rows = []
    for i in range(24):
        host = f"site{i % 3}.com"
        meta = '<meta name="robots" content="noindex">' if i % 4 == 0 else ""
        text = f"the cat sat on the mat and it is a fine day number {i}"
        rows.append((
            f"https://{host}/p{i}", f"2024-01-01 00:00:{i:02d}",
            f"<html>{meta}<body>{text}</body></html>", text,
        ))
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, html_str string, text string"
    ).select(
        "url", F.to_timestamp("warc_ts").alias("warc_ts"),
        F.col("html_str").cast("binary").alias("html"), "text",
    )
    path = str(tmp_path / "pages_gates")
    df.write.mode("append").parquet(path)
    bdf = spark.createDataFrame([("site2.com",)], "domain string")

    stored = spark.read.parquet(path)
    batch = clean_corpus(
        stored, min_stopword_ratio=0.2, blocklist=bdf, respect_noindex=True
    ).toPandas()
    # 24 - 8 on site2.com - (6 noindex - 2 already on site2.com) = 12
    assert len(batch) == 12

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string"
    ).parquet(path)
    out = streaming_clean_corpus(
        stream, watermark="1 hour", min_stopword_ratio=0.2,
        blocklist=bdf, respect_noindex=True,
    )
    run_to_memory(out, "clean_stream_gates", mode="append")
    got = spark.sql("select url from clean_stream_gates").toPandas()
    assert sorted(got["url"]) == sorted(batch["url"])


def test_streaming_clean_corpus_gopher_and_c4(spark, tmp_path):
    """Late-r4 quality rule sets in the streaming twin: the Gopher and
    C4 gates run as stateless projections — survivor set matches the
    batch recipe with the same stages, and the line-cleaned ``text_c4``
    column appears without rewriting ``text``."""
    from pyspark.sql import functions as F

    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    prose = ("the cat and the dog sat on the mat because it is a fine day. "
             "Everyone is happy to walk in the park for a while today! "
             "Is the weather going to hold? The friends believe that it will. "
             "And the quiet paths wind between the old tall trees here.")
    rows = []
    for i in range(18):
        if i % 3 == 0:
            text = f"{prose}\nnav menu footer junk\nUnique suffix number {i}."
        elif i % 3 == 1:
            text = "buy now cheap deals " * 6          # fails gopher
        else:
            text = f"{prose} extra {i}".replace(".", "")  # no terminal punct → fails c4
        rows.append((f"http://example.com/p{i}", f"2024-01-01 00:00:{i:02d}", text))
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "pages_rules")
    df.write.mode("append").parquet(path)

    stored = spark.read.parquet(path)
    kw = dict(min_stopword_ratio=0.0, gopher=True,
              gopher_thresholds={"min_words": 30}, c4=True)
    batch = clean_corpus(stored, **kw).toPandas()
    assert sorted(batch["url"]) == [f"http://example.com/p{i}"
                                    for i in (0, 12, 15, 3, 6, 9)]

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(stream, watermark="1 hour", **kw)
    run_to_memory(out, "clean_stream_rules", mode="append")
    got = spark.sql("select * from clean_stream_rules").toPandas()
    assert sorted(got["url"]) == sorted(batch["url"])
    assert "text_c4" in got.columns
    assert (got["text_c4"] != got["text"]).all()  # nav line dropped, text kept


def test_streaming_clean_corpus_lm_gate(spark, tmp_path):
    """r4 second wave: the char-LM perplexity gate in the streaming twin
    — a stateless literal-fold projection whose survivor set matches the
    batch recipe with the same threshold."""
    from pyspark.sql import functions as F

    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    prose = ("people gather in the market to trade bread and fruit and "
             "stories about the weather and the roads in their lives")
    noise = "zqxj vkwp zzqq jjxx qqzz wwkk xxjj zzvv qpqp zxzx kqvz jxqw"
    rows = [
        (f"http://example.com/p{i}", f"2024-01-01 00:00:{i:02d}",
         f"{prose} number {i}" if i % 2 == 0 else f"{noise} {i}")
        for i in range(16)
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "pages_lm")
    df.write.mode("append").parquet(path)

    stored = spark.read.parquet(path)
    kw = dict(min_tokens=3, max_perplexity=15.0)
    batch = clean_corpus(stored, **kw).toPandas()
    assert len(batch) == 8

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(stream, watermark="1 hour", **kw)
    run_to_memory(out, "clean_stream_lm", mode="append")
    got = spark.sql("select * from clean_stream_lm").toPandas()
    assert sorted(got["url"]) == sorted(batch["url"])


def test_streaming_clean_corpus_robots_stage(spark, tmp_path):
    """The RFC 9309 robots.txt gate in the streaming twin: a STATIC
    per-host robots dim stream-static-joined to the page stream —
    survivor set equals the batch recipe's on the same files."""
    from pyspark.sql import functions as F

    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    good = "the cat sat on the mat and it is a fine day for walking"
    rows = []
    for i in range(24):
        host = f"site{i % 2}.com"
        path = "/private/x" if i % 3 == 0 else "/ok"
        rows.append((f"https://{host}{path}?i={i}",
                     f"2024-01-01 00:00:{i:02d}", f"{good} {i}"))
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "pages")
    df.write.mode("append").parquet(path)
    robots = spark.createDataFrame(
        [("site0.com", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )

    stored = spark.read.parquet(path)
    batch = clean_corpus(stored, min_tokens=5, robots=robots)
    batch_urls = {r["url"] for r in batch.collect()}
    assert all(not ("site0.com" in u and "/private/" in u)
               for u in batch_urls)
    assert any("site1.com" in u and "/private/" in u for u in batch_urls)

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(stream, watermark="1 hour", min_tokens=5,
                                 robots=robots)
    run_to_memory(out, "robots_stream", mode="append")
    got = {
        r["url"]
        for r in spark.sql("select url from robots_stream").collect()
    }
    assert got == batch_urls


def test_streaming_clean_corpus_novel_gate(spark, tmp_path):
    """novel_against= in the streaming twin: a stream-static LEFT-ANTI
    join on the content hash — survivors equal the batch recipe's."""
    from pyspark.sql import functions as F

    from verde_spark.operators.dedup import seen_hashes
    from verde_spark.pipelines import clean_corpus
    from verde_spark.streaming import streaming_clean_corpus

    good = "the cat sat on the mat and it is a fine day for walking"
    old = spark.createDataFrame(
        [(i, f"{good} old {i}") for i in range(6)], "doc_id int, text string"
    )
    rows = (
        [(f"https://s.com/re{i}", f"2024-01-01 00:00:{i:02d}", f"{good} old {i}")
         for i in range(4)]
        + [(f"https://s.com/new{i}", f"2024-01-01 00:01:{i:02d}", f"{good} new {i}")
           for i in range(5)]
    )
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "pages")
    df.write.mode("append").parquet(path)
    seen = seen_hashes(old)

    stored = spark.read.parquet(path)
    batch_urls = {
        r["url"]
        for r in clean_corpus(stored, min_tokens=5, novel_against=seen).collect()
    }
    assert batch_urls == {f"https://s.com/new{i}" for i in range(5)}

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(
        stream, watermark="1 hour", min_tokens=5, novel_against=seen
    )
    run_to_memory(out, "novel_stream", mode="append")
    got = {
        r["url"]
        for r in spark.sql("select url from novel_stream").collect()
    }
    assert got == batch_urls


def test_streaming_normalize_dedup_keeps_raw_text_hash(spark, tmp_path):
    """ADVICE r4: with normalize_dedup=True the sink's text_hash must
    STAY the raw-content hash (interchangeable with dedup.seen_hashes /
    novel_docs), and the normalized key lives in a separate norm_hash
    column that only the dedup state uses."""
    from pyspark.sql import functions as F

    from verde_spark.functions.normalize import normalized_fingerprint
    from verde_spark.operators.dedup import seen_hashes
    from verde_spark.streaming import run_to_memory, streaming_clean_corpus

    base = "the cat sat on the mat and it is a fine day for walking"
    rows = [
        ("http://a.com/1", "2024-01-01 00:00:01", base + " 111"),
        ("http://b.com/2", "2024-01-01 00:00:02", base.upper() + " 999"),
        ("http://c.com/3", "2024-01-01 00:00:03",
         "an entirely different page about the cat and the mat today"),
    ]
    df = spark.createDataFrame(
        rows, "url string, warc_ts string, text string"
    ).withColumn("warc_ts", F.to_timestamp("warc_ts"))
    path = str(tmp_path / "pages_rawhash")
    df.write.mode("append").parquet(path)
    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out = streaming_clean_corpus(
        stream, watermark="1 hour", min_tokens=5,
        min_stopword_ratio=0.2, normalize_dedup=True,
    )
    run_to_memory(out, "rawhash_sink", mode="append")
    sink = spark.sql("select * from rawhash_sink")
    assert {"text_hash", "norm_hash"} <= set(sink.columns)
    got = sink.select("text", "text_hash", "norm_hash").collect()
    raw = {r["text_hash"] for r in seen_hashes(df).collect()}
    for r in got:
        # text_hash == xxhash64(raw text): feeds novel_against directly
        assert r["text_hash"] in raw
    # norm_hash is the CCNet-normalized fingerprint of the kept text
    want_norm = {
        r["text"]: r["nh"]
        for r in df.select(
            "text", normalized_fingerprint("text").alias("nh")
        ).collect()
    }
    for r in got:
        assert r["norm_hash"] == want_norm[r["text"]]
    # and without the flag there is no norm_hash column
    stream2 = spark.readStream.schema(
        "url string, warc_ts timestamp, text string"
    ).parquet(path)
    out2 = streaming_clean_corpus(
        stream2, watermark="1 hour", min_tokens=5, min_stopword_ratio=0.2
    )
    assert "norm_hash" not in out2.columns
