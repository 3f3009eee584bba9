"""Structured Streaming path: file-source extraction with exactly-once
checkpointing and watermarked windowed telemetry."""

from __future__ import annotations

from pyspark.sql import functions as F

from pyrdfa3_spark.sources.transcripts import synth_transcripts
from pyrdfa3_spark.streaming.stream_extract import (
    extract_stream, run_to_completion, stream_transcripts,
)


def test_stream_extraction_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    all_t = synth_transcripts(spark, n_conv=20, turns_per_conv=10,
                              skew_factor=2).cache()
    drop1 = all_t.filter(F.col("conv_id") < "conv-000010")
    drop2 = all_t.filter(F.col("conv_id") >= "conv-000010")

    drop1.coalesce(1).write.mode("append").parquet(in_dir)
    run_to_completion(extract_stream(stream_transcripts(spark, in_dir)),
                      out_dir, ckpt)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 > 0

    # second drop: checkpoint ensures only the new file is processed
    drop2.coalesce(1).write.mode("append").parquet(in_dir)
    run_to_completion(extract_stream(stream_transcripts(spark, in_dir)),
                      out_dir, ckpt)
    streamed = spark.read.parquet(out_dir)
    n2 = streamed.count()
    assert n2 > n1

    # streamed total == batch total over the same input (exactly-once)
    from pyrdfa3_spark.plans.extract import extract_triples

    batch = extract_triples(all_t)
    assert n2 == batch.count()
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    assert {tuple(r) for r in streamed.select(cols).collect()} == \
        {tuple(r) for r in batch.select(cols).collect()}


def test_stateful_sessionize_matches_batch(spark, tmp_path):
    """Streaming applyInPandasWithState sessionization emits exactly the
    batch sessions except each user's final (still-open) session."""
    from pyrdfa3_spark.plans.queries import q_sessionize
    from pyrdfa3_spark.streaming.sessionize import sessionize_stream
    from pyrdfa3_spark.streaming.stream_extract import run_to_completion

    sf_dir = "/root/testdata/sf0.001"
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    in_dir = str(tmp_path / "ev_in")
    out_dir = str(tmp_path / "ev_out")
    ckpt = str(tmp_path / "ev_ckpt")
    ev.coalesce(1).write.mode("append").parquet(in_dir)

    stream = (spark.readStream.schema(ev.schema)
              .parquet(in_dir))
    run_to_completion(sessionize_stream(stream), out_dir, ckpt,
                      mode="append")
    streamed = {
        (r["user_id"], r["session_start_ms"], r["session_end_ms"],
         r["n_events"])
        for r in spark.read.parquet(out_dir).collect()
    }

    batch = q_sessionize(spark, sf_dir).collect()
    last_seq = {}
    for r in batch:
        last_seq[r["user_id"]] = max(last_seq.get(r["user_id"], -1),
                                     r["session_seq"])
    expected_closed = {
        (r["user_id"], r["start_ms"], r["end_ms"], r["n_events"])
        for r in batch if r["session_seq"] != last_seq[r["user_id"]]
    }
    assert streamed == expected_closed
    assert len(streamed) > 10


def test_stream_bucketed_materialize(spark, tmp_path):
    """foreachBatch streaming sink lands the same bucket(conv_id)
    layout as the batch sink, exactly-once across drops."""
    import os

    from pyrdfa3_spark.streaming.stream_extract import (
        run_bucketed_materialize,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t = synth_transcripts(spark, n_conv=20, turns_per_conv=10,
                          skew_factor=2).cache()
    # three input files, so the micro-batch has three partitions and
    # each of them holds rows of every bucket
    t.repartition(3).write.mode("append").parquet(in_dir)
    run_bucketed_materialize(
        extract_stream(stream_transcripts(spark, in_dir)),
        out_dir, ckpt, buckets=4)
    batches = [d for d in os.listdir(out_dir) if d.startswith("batch_id=")]
    assert batches
    parts = [d for d in os.listdir(os.path.join(out_dir, batches[0]))
             if d.startswith("conv_bucket=")]
    assert 1 <= len(parts) <= 4
    # the sink distributes rows by bucket: one file per bucket per batch
    for b in batches:
        for d in os.listdir(os.path.join(out_dir, b)):
            if d.startswith("conv_bucket="):
                files = [f for f in os.listdir(os.path.join(out_dir, b, d))
                         if f.endswith(".parquet")]
                assert len(files) == 1, (b, d, files)
    streamed = spark.read.parquet(out_dir)

    from pyrdfa3_spark.plans.extract import extract_triples
    assert streamed.count() == extract_triples(t).count()
    n = streamed.count()

    # re-running with the same checkpoint must not duplicate output
    run_bucketed_materialize(
        extract_stream(stream_transcripts(spark, in_dir)),
        out_dir, ckpt, buckets=4)
    assert spark.read.parquet(out_dir).count() == n

    # replay after checkpoint loss (the at-least-once hazard): batches
    # re-run with the same batch_ids and must overwrite their own
    # partitions, not append duplicates
    import shutil

    shutil.rmtree(ckpt)
    run_bucketed_materialize(
        extract_stream(stream_transcripts(spark, in_dir)),
        out_dir, str(tmp_path / "ckpt2"), buckets=4)
    assert spark.read.parquet(out_dir).count() == n


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate turns arriving within the watermark collapse to one
    output row; distinct texts all pass."""
    import datetime

    from pyrdfa3_spark.streaming.stream_extract import (
        dedup_stream, run_to_completion, stream_transcripts,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    rows = []
    for i in range(30):
        # 10 distinct texts, each appearing 3x with close timestamps
        rows.append((f"c{i % 10}", i, "u", f"text variant {i % 10}",
                     "b", t0 + datetime.timedelta(seconds=i)))
    in_dir = str(tmp_path / "in")
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(in_dir)

    out_dir = str(tmp_path / "out")
    run_to_completion(
        dedup_stream(stream_transcripts(spark, in_dir)),
        out_dir, str(tmp_path / "ckpt"))
    out = spark.read.parquet(out_dir)
    assert out.count() == 10
    assert out.select("fp").distinct().count() == 10


def test_stream_near_dup_candidates_match_batch_buckets(spark, tmp_path):
    """Streaming LSH candidates == the closed form over the batch
    bucketing: per (band, bucket), every member except the first-seen
    representative emits exactly one (rep, doc) row — including across
    micro-batches, where the representative survives in the state
    store and drop-2 arrivals link to the drop-1 rep."""
    import datetime as dt

    from pyrdfa3_spark.operators.dedup import _band_buckets
    from pyrdfa3_spark.streaming.near_dup import (
        near_dup_candidates_stream, stream_band_members,
    )
    from pyrdfa3_spark.streaming.stream_extract import run_to_completion

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def mk(i, text, minutes):
        return (str(i), text, t0 + dt.timedelta(minutes=minutes))

    fam_a = "the quick brown fox jumps over the lazy dog again and again"
    fam_b = "completely different content about spark streaming state"
    rows1 = [mk(1, fam_a, 0), mk(2, fam_a, 1), mk(3, fam_b, 2),
             mk(4, "unique first-drop text with nothing shared", 3)]
    rows2 = [mk(5, fam_a, 10), mk(6, fam_b, 11),
             mk(7, "another unique text in the second drop", 12)]
    schema = "doc_id string, text string, ts timestamp"
    in_dir, out_dir, ckpt = (str(tmp_path / d)
                             for d in ("in", "out", "ckpt"))

    def drain(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
        stream = spark.readStream.schema(schema).parquet(in_dir)
        run_to_completion(near_dup_candidates_stream(stream), out_dir,
                          ckpt)

    drain(rows1)
    drain(rows2)
    streamed = {(r["band"], r["bucket"], r["rep_id"], r["doc_id"])
                for r in spark.read.parquet(out_dir).collect()}

    # closed form from the batch bucketing (identical md5/chunk
    # algebra): per bucket, rep = earliest (ts, doc_id) member
    all_rows = spark.createDataFrame(rows1 + rows2, schema)
    members = stream_band_members(all_rows).collect()
    order = {r[0]: i for i, r in enumerate(rows1 + rows2)}
    buckets = {}
    for r in members:
        buckets.setdefault((r["band"], r["bucket"]), []).append(
            r["doc_id"])
    expected = set()
    for (band, bucket), ids in buckets.items():
        ids.sort(key=lambda d: order[d])
        rep = ids[0]
        expected |= {(band, bucket, rep, d) for d in ids[1:]}
    assert streamed == expected
    # the families actually collided (the test is not vacuous) and
    # cross-batch state linked drop-2 docs to drop-1 representatives
    assert any(r == "1" and d == "5" for _, _, r, d in streamed)
    assert any(r == "3" and d == "6" for _, _, r, d in streamed)
    # batch twin agreement: streaming buckets == batch _band_buckets
    batch_members = {(r["doc_id"], r["band"], r["bucket"])
                     for r in _band_buckets(
                         all_rows.select(F.col("doc_id").cast("bigint")
                                         .alias("doc_id"), "text"),
                         k=5, n_hashes=8, bands=4).collect()}
    stream_members = {(int(r["doc_id"]), r["band"], r["bucket"])
                      for r in members}
    assert stream_members == batch_members


def test_stream_near_dup_drop(spark, tmp_path):
    """Signature-level streaming dedup: one survivor per full-MinHash
    family within the watermark."""
    import datetime as dt

    from pyrdfa3_spark.streaming.near_dup import near_dup_drop_stream
    from pyrdfa3_spark.streaming.stream_extract import run_to_completion

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [("1", "aaaa bbbb cccc dddd", t0),
            ("2", "aaaa bbbb cccc dddd", t0 + dt.timedelta(minutes=1)),
            ("3", "totally different words here", t0 +
             dt.timedelta(minutes=2))]
    schema = "doc_id string, text string, ts timestamp"
    in_dir, out_dir, ckpt = (str(tmp_path / d)
                             for d in ("nd_in", "nd_out", "nd_ckpt"))
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)
    stream = spark.readStream.schema(schema).parquet(in_dir)
    run_to_completion(near_dup_drop_stream(stream), out_dir, ckpt)
    kept = sorted(r["doc_id"]
                  for r in spark.read.parquet(out_dir).collect())
    assert kept == ["1", "3"]


def test_stream_entity_hll_sidecar(spark, tmp_path):
    """Per-batch HLL register sidecars: the folded estimate equals the
    single-pass sketch over the materialized table exactly, and a
    checkpoint-loss replay (overwrite-by-batch_id + idempotent
    register max) cannot move it."""
    import os
    import shutil

    from pyrdfa3_spark.operators.sketch import hll_distinct
    from pyrdfa3_spark.sources.transcripts import synth_transcripts
    from pyrdfa3_spark.streaming.stream_extract import (
        distinct_entity_estimate, extract_stream, run_bucketed_materialize,
        stream_transcripts,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    t = synth_transcripts(spark, n_conv=30, turns_per_conv=10,
                          skew_factor=2).cache()
    t.coalesce(1).write.mode("append").parquet(in_dir)
    run_bucketed_materialize(
        extract_stream(stream_transcripts(spark, in_dir)),
        out_dir, str(tmp_path / "ckpt"), buckets=4,
        entity_hll_col="subj", entity_hll_p=8)
    assert os.path.isdir(out_dir + "/_entity_hll")
    est = distinct_entity_estimate(spark, out_dir, p=8)

    table = (spark.read.parquet(out_dir)
             .select(F.col("subj").alias("key"))
             .withColumn("g", F.lit(1)))
    single_pass = hll_distinct(table, ["g"], key_col="key",
                               p=8).collect()[0]["est"]
    assert est == single_pass
    true = spark.read.parquet(out_dir).select("subj").distinct().count()
    assert abs(est - true) <= max(0.15 * true, 3)

    # checkpoint-loss replay: same batches rewrite their sidecars
    shutil.rmtree(str(tmp_path / "ckpt"))
    run_bucketed_materialize(
        extract_stream(stream_transcripts(spark, in_dir)),
        out_dir, str(tmp_path / "ckpt2"), buckets=4,
        entity_hll_col="subj", entity_hll_p=8)
    assert distinct_entity_estimate(spark, out_dir, p=8) == est
