"""Sinks, Structured-Streaming rules, multimodal plumbing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from morph_kgc_spark import model as M
from morph_kgc_spark.operators.multimodal import (
    image_metadata,
    resize_images,
    sample_video_frames,
)
from morph_kgc_spark.sinks.ntriples import ntriples_lines, to_ntriples_string, write_ntriples

EX = "http://example.com/"


def _triples(spark):
    return spark.createDataFrame(
        [(f"<{EX}s>", f"<{EX}p>", '"v"')], ["subject", "predicate", "object"])


def test_ntriples_lines_and_file(spark, tmp_path):
    t = _triples(spark)
    assert to_ntriples_string(t) == f'<{EX}s> <{EX}p> "v" .\n'
    write_ntriples(t, str(tmp_path / "out.nt"))
    back = spark.read.text(str(tmp_path / "out.nt"))
    assert back.collect()[0].value == f'<{EX}s> <{EX}p> "v" .'


def test_nquads_graph_column(spark):
    q = spark.createDataFrame(
        [(f"<{EX}s>", f"<{EX}p>", '"v"', f"<{EX}g>"),
         (f"<{EX}s>", f"<{EX}p>", '"w"', None)],
        "subject string, predicate string, object string, graph string")
    lines = {r.value for r in ntriples_lines(q).collect()}
    assert lines == {f'<{EX}s> <{EX}p> "v" <{EX}g> .',
                     f'<{EX}s> <{EX}p> "w" .'}  # null graph → triple form


def test_streaming_rules_end_to_end(spark, tmp_path):
    from morph_kgc_spark.streaming.pipeline import stream_triples

    src = str(tmp_path / "stream_src")
    spark.createDataFrame(
        pd.DataFrame({"ID": ["1", "2"], "Name": ["a", "b"]})
    ).write.parquet(src)

    stream = spark.readStream.schema("ID string, Name string").parquet(src)
    rules = [M.Rule(
        source=M.Source("df", "unused"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "name", M.IRI),
        object=M.TermMap(M.REFERENCE, "Name", M.LITERAL),
    )]
    out = stream_triples(stream, rules)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("triples_mem")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = {tuple(r) for r in spark.sql("select * from triples_mem").collect()}
    assert rows == {
        (f"<{EX}1>", f"<{EX}name>", '"a"'),
        (f"<{EX}2>", f"<{EX}name>", '"b"'),
    }


def test_stream_triples_honours_na_values(spark):
    """stream_triples prepares its source like batch compile_rule: the
    default NA lexical forms ('' and 'nan') null their rows out."""
    from morph_kgc_spark.plans.compiler import compile_rule
    from morph_kgc_spark.sources.registry import default_registry
    from morph_kgc_spark.streaming.pipeline import stream_triples

    df = spark.createDataFrame(
        [("1", "ana"), ("2", ""), ("3", "nan"), ("4", None)],
        "ID string, Name string")
    rule = M.Rule(
        source=M.Source("df", "t"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "name", M.IRI),
        object=M.TermMap(M.REFERENCE, "Name", M.LITERAL),
    )
    reg = default_registry()
    reg.register("t", df)
    batch = {tuple(r) for r in compile_rule(spark, rule, reg).collect()}
    streamed = {tuple(r) for r in stream_triples(df, [rule]).collect()}
    assert streamed == batch == {(f"<{EX}1>", f"<{EX}name>", '"ana"')}


def test_streaming_rejects_joins(spark):
    from morph_kgc_spark.streaming.pipeline import stream_triples

    rule = M.Rule(
        source=M.Source("df", "x"),
        subject=M.TermMap(M.TEMPLATE, EX + "{a}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "p", M.IRI),
        parent_source=M.Source("df", "y"),
        parent_subject=M.TermMap(M.TEMPLATE, EX + "{b}", M.IRI),
        join_conditions=(M.JoinCondition("a", "b"),),
    )
    with pytest.raises(ValueError, match="static frame"):
        stream_triples(spark.range(1), [rule])


def test_streaming_stream_static_join(spark, tmp_path):
    """Referencing object map against a broadcast STATIC parent: a
    stream-static inner equi-join per micro-batch (no streaming state)."""
    from morph_kgc_spark.streaming.pipeline import stream_triples

    src = str(tmp_path / "ss_src")
    spark.createDataFrame(
        pd.DataFrame({"ID": ["1", "2", "3"], "NK": ["10", "20", "99"]})
    ).write.parquet(src)
    stream = spark.readStream.schema("ID string, NK string").parquet(src)
    nations = spark.createDataFrame(
        pd.DataFrame({"k": ["10", "20"], "name": ["ES", "FR"]}))

    rule = M.Rule(
        source=M.Source("df", "pages"),
        subject=M.TermMap(M.TEMPLATE, EX + "{ID}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "nation", M.IRI),
        parent_source=M.Source("df", "nations"),
        parent_subject=M.TermMap(M.TEMPLATE, EX + "n/{name}", M.IRI),
        join_conditions=(M.JoinCondition("NK", "k"),),
    )
    out = stream_triples(stream, [rule], static_parents={"nations": nations})
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("ss_join_mem")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = {tuple(r) for r in spark.sql("select * from ss_join_mem").collect()}
    assert rows == {
        (f"<{EX}1>", f"<{EX}nation>", f"<{EX}n/ES>"),
        (f"<{EX}2>", f"<{EX}nation>", f"<{EX}n/FR>"),
    }  # NK=99 has no parent → inner join drops it


def test_streaming_watermarked_dedup_rate_source(spark):
    """Rate source → rules → dropDuplicatesWithinWatermark: duplicate
    triples inside the watermark collapse (VERDICT item 9)."""
    from morph_kgc_spark.streaming.pipeline import stream_triples

    rate = (spark.readStream.format("rate")
            .option("rowsPerSecond", "500").load()
            .withColumn("bucket", F.pmod(F.col("value"), F.lit(5))))
    rule = M.Rule(
        source=M.Source("df", "rate"),
        subject=M.TermMap(M.TEMPLATE, EX + "b/{bucket}", M.IRI),
        predicate=M.TermMap(M.CONSTANT, EX + "seen", M.IRI),
        object=M.TermMap(M.CONSTANT, "yes", M.LITERAL),
    )
    out = stream_triples(rate, [rule], event_time_col="timestamp",
                         watermark="10 seconds")
    q = (out.writeStream.format("memory").queryName("rate_dedup_mem")
         .outputMode("append").trigger(processingTime="1 second").start())
    import time
    deadline = time.time() + 45
    while time.time() < deadline:
        n = spark.sql("select count(*) as n from rate_dedup_mem").collect()[0].n
        if n >= 5:
            break
        time.sleep(1)
    q.stop()
    rows = [tuple(r) for r in
            spark.sql("select * from rate_dedup_mem").collect()]
    # many rate rows per bucket, but within the watermark each triple
    # appears exactly once
    assert len(rows) == len(set(rows))
    assert {r[0] for r in rows} <= {f"<{EX}b/{i}>" for i in range(5)}
    assert len(rows) >= 5


def _media(spark):
    return spark.createDataFrame(
        [("m1", "image", b"\x89PNGfakebytes", "image/png"),
         ("m2", "image", b"\xff\xd8fakejpeg", "image/jpeg")],
        "media_id string, kind string, content binary, mime string")


def test_image_metadata_plumbing(spark):
    meta = image_metadata(_media(spark)).collect()
    assert len(meta) == 2
    m = {r.media_id: r for r in meta}
    assert m["m1"].width > 0 and m["m1"].n_channels == 3
    # deterministic: same content → same fake dims across runs
    meta2 = {r.media_id: r for r in image_metadata(_media(spark)).collect()}
    assert m["m1"].width == meta2["m1"].width
    assert m["m1"].content_hash == meta2["m1"].content_hash


def test_synth_ppm_roundtrip_pixel_stats(spark):
    """synth_ppm_media emits REAL P6 binaries; image_pixel_stats decodes
    them and its hash matches a driver-side replay of the pixel formula
    (the same formula the DuckDB oracle runs in SQL)."""
    import hashlib

    from morph_kgc_spark.operators.multimodal import (
        SYNTH_H_BASE,
        SYNTH_H_MOD,
        SYNTH_W_BASE,
        SYNTH_W_MOD,
        image_pixel_stats,
        synth_ppm_media,
    )

    ids = spark.createDataFrame([(7,), (12,), (123,)], "doc_id long")
    stats = {r.media_id: r
             for r in image_pixel_stats(synth_ppm_media(ids, "doc_id")).collect()}
    assert len(stats) == 3
    for i in (7, 12, 123):
        r = stats[str(i)]
        w = SYNTH_W_BASE + i % SYNTH_W_MOD
        h = SYNTH_H_BASE + i % SYNTH_H_MOD
        assert (r.width, r.height, r.n_channels) == (w, h, 3)
        hx = hashlib.md5(str(i).encode()).hexdigest()
        need = w * h * 3 * 2
        px_hex = (hx * -(-need // len(hx)))[:need]
        assert r.pixel_hash == hashlib.md5(px_hex.encode()).hexdigest()


def test_synth_wav_roundtrip_sample_stats(spark):
    """synth_wav_media emits REAL PCM RIFF binaries; audio_sample_stats
    walks the chunks back with the real decoder and its sample hash
    matches a driver-side replay of the sample formula (the same formula
    the DuckDB oracle runs in SQL)."""
    import hashlib

    from morph_kgc_spark.operators.multimodal import (
        SYNTH_WAV_F_BASE,
        SYNTH_WAV_F_MOD,
        SYNTH_WAV_RATES,
        audio_sample_stats,
        synth_wav_media,
    )

    ids = spark.createDataFrame([(3,), (10,), (77,)], "doc_id long")
    media = synth_wav_media(ids, "doc_id")
    # the binaries are genuine RIFF/WAVE containers
    for r in media.collect():
        assert bytes(r.content[:4]) == b"RIFF"
        assert bytes(r.content[8:12]) == b"WAVE"
    stats = {r.media_id: r for r in audio_sample_stats(media).collect()}
    assert len(stats) == 3
    for i in (3, 10, 77):
        r = stats[str(i)]
        channels = 1 + i % 2
        rate = SYNTH_WAV_RATES[i % len(SYNTH_WAV_RATES)]
        n_frames = SYNTH_WAV_F_BASE + i % SYNTH_WAV_F_MOD
        assert (r.channels, r.sample_rate, r.bits, r.n_frames) == \
            (channels, rate, 16, n_frames)
        assert r.duration_s == round(n_frames / rate, 6)
        need = n_frames * channels * 4
        hx = hashlib.md5(str(i).encode()).hexdigest()
        hx = (hx * -(-need // len(hx)))[:need]
        vals = [int(hx[p:p + 4], 16) for p in range(0, need, 4)]
        joined = ",".join(str(u - 65536 if u >= 32768 else u) for u in vals)
        assert r.sample_hash == hashlib.md5(joined.encode()).hexdigest()


def test_resize_unrecognized_format_raises(spark):
    # _media holds non-image bytes; real formats are covered in
    # tests/test_imagecodec.py
    with pytest.raises(Exception, match="unrecognized image format"):
        resize_images(_media(spark), 64, 64).collect()


def test_video_frame_sampling_plumbing(spark):
    frames = sample_video_frames(_media(spark)).collect()
    assert len(frames) >= 2
    by_media = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r.frame_idx)
    for idxs in by_media.values():
        assert idxs == list(range(len(idxs)))  # one row per frame, 0-based


def test_streaming_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: sessions spanning
    micro-batches close correctly; session splits at the 30-min gap."""
    import datetime as dt

    from morph_kgc_spark.streaming.sessionize import streaming_sessionize

    src = str(tmp_path / "ev")
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # user 1: two events 10 min apart (one session), then a 2h gap,
        # then one more event (second session, stays open)
        (1, base, 1), (1, base + dt.timedelta(minutes=10), 2),
        (1, base + dt.timedelta(hours=2), 3),
        # user 2: single event (stays open → no emission)
        (2, base, 4),
    ]
    spark.createDataFrame(rows, "user_id long, ts timestamp, event_id long") \
         .write.parquet(src)

    stream = spark.readStream.schema("user_id long, ts timestamp, event_id long").parquet(src)
    out = streaming_sessionize(stream)
    q = (out.writeStream.format("memory").queryName("sessions_mem")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r.user_id, r.session_no, r.n_events, r.end_epoch - r.start_epoch)
           for r in spark.sql("select * from sessions_mem").collect()}
    # user 1's first session closed by the 2h-later event; user 2's idle
    # session flushed by the event-time TIMEOUT once the watermark passed
    # last_seen + gap. User 1's second session stays open (its timeout,
    # 02:30, is beyond the final watermark 02:00) → not emitted.
    assert got == {(1, 1, 2, 600), (2, 1, 1, 0)}


def test_streaming_web_pipeline_e2e(spark, tmp_path):
    """Round-5 directive #8: synthetic pages → file stream →
    extract→detect→link→materialize per micro-batch (availableNow),
    SET-equal to the batch twin over the same pages. maxFilesPerTrigger
    forces multiple micro-batches so cross-batch behavior is real."""
    from morph_kgc_spark.operators.cache import release
    from morph_kgc_spark.pipeline.pages import (
        alias_dictionary,
        pipeline_triples,
        synthetic_pages,
    )
    from morph_kgc_spark.streaming.pipeline import stream_web_pipeline

    src = str(tmp_path / "pages")
    out = str(tmp_path / "triples")
    ckpt = str(tmp_path / "ckpt")
    pages = synthetic_pages(spark, 400, n_entities=16, partitions=4)
    pages.write.parquet(src)
    aliases = alias_dictionary(spark, 16)

    stream = (spark.readStream.schema(pages.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_web_pipeline(stream, aliases, out, ckpt)
    assert q.awaitTermination(180), "streaming pipeline did not finish"
    assert len(q.recentProgress) > 1, "expected multiple micro-batches"

    sink = spark.read.parquet(out)
    # idempotent mode partitions the sink by micro-batch id: a retried
    # batch overwrites its own partition instead of duplicating rows
    assert "batch_id" in sink.columns
    assert sink.select("batch_id").distinct().count() > 1
    got = {tuple(r) for r in
           sink.select("subject", "predicate", "object").collect()}
    batch = pipeline_triples(spark, spark.read.parquet(src), aliases)
    want = {tuple(r) for r in batch.collect()}
    release(batch)
    assert got == want

    # replaying batch 0's write (the at-least-once retry scenario) must
    # leave the sink unchanged — overwrite, not append
    n_before = sink.count()
    b0 = spark.read.parquet(f"{out}/batch_id=0")
    b0_rows = b0.collect()
    spark.createDataFrame(b0_rows, b0.schema).write.mode("overwrite") \
        .parquet(f"{out}/batch_id=0")
    assert spark.read.parquet(out).count() == n_before


def test_streaming_url_dedup(spark, tmp_path):
    """stream_url_dedup keeps one page per canonical URL within the
    watermark horizon — two mess-variant spellings of one page collapse
    while distinct pages survive (input-table shape per BASELINE.json:
    url string + warc_ts timestamp)."""
    import datetime as dt

    from morph_kgc_spark.streaming.pipeline import stream_url_dedup

    src = str(tmp_path / "pages_src")
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    spark.createDataFrame(
        [("HTTP://WWW.Example.COM:80/a/?utm_source=x", t0),
         ("http://example.com/a", t0 + dt.timedelta(minutes=1)),
         ("https://other.org/b", t0 + dt.timedelta(minutes=2))],
        "url string, warc_ts timestamp").write.parquet(src)

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp").parquet(src)
    out = stream_url_dedup(stream)
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("url_dedup_mem")
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    rows = {r.canonical_url
            for r in spark.sql("select * from url_dedup_mem").collect()}
    assert rows == {"http://example.com/a", "https://other.org/b"}


def test_streaming_incremental_dedup_e2e(spark, tmp_path):
    """Streamed new docs gated against a static corpus index: per
    micro-batch the result is SET-equal to the batch operator, writes
    are idempotent (batch_id partitions), and survivors exclude every
    doc colliding with the index."""
    from morph_kgc_spark.operators.dedup import incremental_dedup
    from morph_kgc_spark.streaming.pipeline import stream_incremental_dedup

    src = str(tmp_path / "docs_src")
    out = str(tmp_path / "survivors")
    ckpt = str(tmp_path / "inc_ckpt")

    index = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "an entirely different document about spark pipelines")],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "completely novel content never seen in the corpus before"),
         (12, "an entirely different document about spark pipelines"),
         (13, "another genuinely fresh page with original words only")],
        "doc_id long, text string")
    batch.repartition(2).write.parquet(src)

    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_incremental_dedup(stream, index, out, ckpt)
    assert q.awaitTermination(120), "streaming incremental dedup hung"

    sink = spark.read.parquet(out)
    assert "batch_id" in sink.columns
    got = sorted(r.doc_id for r in sink.collect())
    want = sorted(r.doc_id for r in
                  incremental_dedup(index, batch, "doc_id", "text")
                  .collect())
    assert got == want == [11, 13]
