"""End-to-end Spark pipeline tests: transcripts -> triples.

The oracle here is the engine itself run in-process on the same
deterministically rendered fragments — this validates the Spark plumbing
(prefilter, Arrow UDF, skolemization, per-doc dedup),
while tests/test_engine.py validates the semantics against hand-derived
golden graphs.
"""

from __future__ import annotations

import functools
import os
import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from pyrdfa3_spark.plans import extract
from pyrdfa3_spark.plans.extract import (
    extract_tagged, extract_triples, split_outputs,
)
from pyrdfa3_spark.sources.transcripts import synth_transcripts


@pytest.fixture(scope="module")
def small_transcripts(spark):
    df = synth_transcripts(spark, n_conv=30, turns_per_conv=10,
                           skew_factor=5)
    df.cache().count()
    return df


def _local_oracle_triples(transcripts_rows):
    """Run the engine directly (no Spark) on carrier turns."""
    import hashlib

    from pyrdfa3_spark.functions.hostlang import (
        host_for, is_xml_host, sniff_media_type,
    )
    from pyrdfa3_spark.operators.rdfa_engine import (
        Literal, RDFaProcessor, is_bnode,
    )
    from pyrdfa3_spark.sources.dom import parse_html, parse_xml

    out = set()
    for r in transcripts_rows:
        text = r["text"]
        start, end = text.find("<"), text.rfind(">")
        if start < 0 or end <= start:
            continue
        frag = text[start:end + 1]
        host = host_for(sniff_media_type(frag))
        base = f"http://transcript.local/{r['conv_id']}/{r['turn_idx']}"
        proc = RDFaProcessor(base=base, host=host)
        try:
            root = parse_xml(frag) if is_xml_host(host) else parse_html(frag)
            triples = proc.process(root)
        except Exception:
            continue

        def sk(term):
            h = hashlib.sha256(
                f"{r['conv_id']}\x1f{r['turn_idx']}\x1f{term}".encode()
            ).hexdigest()[:24]
            return "_:sk" + h

        for s, p, o in triples:
            s2 = sk(s) if is_bnode(s) else s
            if isinstance(o, Literal):
                out.add((r["conv_id"], r["turn_idx"], s2, p, o.value,
                         False, o.lang, o.datatype))
            else:
                o2 = sk(o) if is_bnode(o) else o
                out.add((r["conv_id"], r["turn_idx"], s2, p, o2,
                         True, None, None))
    return out


def _collect_triples(df):
    return {
        (r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"],
         r["obj_is_iri"], r["obj_lang"], r["obj_datatype"])
        for r in df.collect()
    }


def test_pipeline_matches_local_oracle(spark, small_transcripts):
    actual = _collect_triples(extract_triples(small_transcripts))
    expected = _local_oracle_triples(
        [r.asDict() for r in small_transcripts.collect()])
    missing = expected - actual
    extra = actual - expected
    assert not missing and not extra, (
        f"missing={list(missing)[:5]} extra={list(extra)[:5]}")
    assert len(actual) > 100


def test_parallelism_invariance(spark, small_transcripts):
    a = _collect_triples(extract_triples(small_transcripts.repartition(2)))
    b = _collect_triples(extract_triples(small_transcripts.repartition(17)))
    assert a == b


def test_diagnostics_surface_bad_datatypes(spark, small_transcripts):
    tagged = extract_tagged(small_transcripts)
    _, diags = split_outputs(tagged)
    codes = {r["code"] for r in diags.collect()}
    # template 3 plants incompatible literals; template 6 uses xmlns:
    assert "incompatible-literal" in codes
    assert "xmlns-deprecated" in codes


def test_per_turn_text_stability(spark, small_transcripts):
    """input_hint invariant: per-turn text equality under stable
    (conv_id, turn_idx) ordering across two independent generations."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    a = (small_transcripts
         .withColumn("rn", F.row_number().over(w))
         .select("conv_id", "rn", "text"))
    again = synth_transcripts(spark, n_conv=30, turns_per_conv=10,
                              skew_factor=5)
    b = (again.withColumn("rn", F.row_number().over(w))
         .select("conv_id", "rn", F.col("text").alias("text2")))
    joined = a.join(b, ["conv_id", "rn"], "full_outer")
    mismatches = joined.filter(
        (F.col("text").isNull()) | (F.col("text2").isNull()) |
        (F.col("text") != F.col("text2"))).count()
    assert mismatches == 0


def test_skew_fixture_shape(spark, small_transcripts):
    counts = (small_transcripts.groupBy("conv_id").count()
              .orderBy(F.desc("count")).collect())
    assert counts[0]["conv_id"] == "conv-000000"
    assert counts[0]["count"] == 5 * 10
    assert counts[1]["count"] == 10


def test_turtle_only_document_survives_prefilter(spark):
    """A turn whose only markup is an embedded turtle island (no RDFa
    attribute at all) must still reach the extraction UDF (E14)."""
    from pyrdfa3_spark.plans.extract import extract_triples

    rows = [("c9", 0, "u",
             'x <script type="text/turtle">@prefix s: '
             '<http://schema.org/> . <#a> s:v 3 .</script> y',
             "b", None)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    out = extract_triples(t).collect()
    assert len(out) == 1 and out[0]["pred"] == "http://schema.org/v"


def test_max_doc_bytes_guard(spark):
    """Oversized fragments are skipped with a visible doc-too-large
    diagnostic, never a task failure or a silent drop."""
    from pyrdfa3_spark.plans.extract import extract_tagged, split_outputs

    big = '<div about="#x"><span property="p:v">' + "y" * 5000 + \
        "</span></div>"
    small = '<div about="#s" vocab="http://schema.org/">' \
        '<span property="name">ok</span></div>'
    t = spark.createDataFrame(
        [("c1", 0, "u", big, "b", None), ("c1", 1, "u", small, "b", None)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    triples, diags = split_outputs(
        extract_tagged(t, max_doc_bytes=1000))
    trows = triples.collect()
    drows = diags.collect()
    assert all(r["turn_idx"] == 1 for r in trows) and trows
    assert len(drows) == 1 and drows[0]["code"] == "doc-too-large"
    assert "5043" in drows[0]["message"] or "bytes" in drows[0]["message"]

    # guard off by default: the same corpus extracts everything
    all_triples, _ = split_outputs(extract_tagged(t))
    assert {r["turn_idx"] for r in all_triples.collect()} == {0, 1}


# The prefilter patterns with overlapping [^>] spans, with no "<" guard:
# the oracle of the keep-set differential below.  They run through Spark
# rlike (Java regex semantics), as the pipeline's do.
_OLD_RDFA = ("(?i)<[^>]{0,1000}(property|typeof|about|resource|vocab|prefix"
             "|rel|rev|role|datatype)\\s*="
             "|(?i)text/turtle|<[^>]{0,200}:RDF[\\s>]")
_OLD_PATTERNS = {
    "rdfa": _OLD_RDFA,
    "hturtle": "(?i)text/turtle|<[^>]*:RDF",
    "microdata": _OLD_RDFA + "|(?i)<[^>]{0,1000}itemscope",
}
_MODES = {"rdfa": {}, "hturtle": {"hturtle_only": True},
          "microdata": {"microdata": True}}
_ATTRS = ["property", "typeof", "about", "resource", "vocab", "prefix",
          "rel", "rev", "role", "datatype"]


def _prefilter_corpus():
    """Seeded texts around every edge of the prefilter: random atom soup,
    spans on both sides of the 200/1000-char bounds, ``<`` inside an
    attribute value, markers with no ``<``, NULL, non-Latin-1 prose and
    every fragments.py template wrapped in prose."""
    from pyrdfa3_spark.sources.fragments import (
        N_TEMPLATES, PROSE_AFTER, PROSE_BEFORE, render_fragment,
    )

    rng = random.Random(20240917)

    def mixed_case(word):
        return "".join(c.upper() if rng.random() < 0.3 else c for c in word)

    atoms = ["<", ">", "=", " = ", '"', "'", "\n", " ", "div ", "x",
             ":RDF", ":rdf ", "text/turtle", "itemscope", "日本語", "é",
             "</span>", "<p>"]
    texts = []
    for _ in range(500):
        parts = []
        for _ in range(rng.randint(1, 40)):
            r = rng.random()
            if r < 0.25:
                parts.append(mixed_case(rng.choice(_ATTRS)))
            elif r < 0.3:
                parts.append(rng.choice("ab é\n") * rng.randint(150, 1100))
            else:
                parts.append(rng.choice(atoms))
        texts.append("".join(parts))
    for n in (199, 200, 201, 999, 1000, 1001):
        fill = "a" * n
        texts += [f"<{fill}property=", f"<{fill}TypeOf =x>",
                  f"<{fill}:RDF>", f"<{fill}:RDF x", f"<{fill}itemscope>",
                  f"<{fill[:-3]}<b property='p'>",
                  f"< {'<' * 3}{fill}about=", f"<{fill}>rel="]
    texts += ['<div title="a<b" property="x">y</div>',
              '<div title="a<b" itemscope>y</div>',
              '<p title="x>y" property="z">w</p>',
              "plain text/turtle mention, no markup",
              "for (i = 0; i < n; i++) property = 1; about=2",
              "日本語の文章です。ünïcødé ✓ 😀 — no markup at all",
              "😀 <span property=\"名前\">値</span> ✓",
              None]
    for i in range(N_TEMPLATES):
        _, frag = render_fragment(i, i)
        texts.append(PROSE_BEFORE[i % 4] + frag + PROSE_AFTER[i % 4])
    return [(f"c{i % 7}", i, t) for i, t in enumerate(texts)]


@pytest.fixture(scope="module")
def prefilter_corpus(spark):
    df = spark.createDataFrame(
        _prefilter_corpus(), "conv_id string, turn_idx int, text string")
    df.cache().count()
    return df


def _turns(df):
    return sorted(r["turn_idx"] for r in df.select("turn_idx").collect())


@pytest.mark.parametrize("mode", sorted(_MODES))
def test_prefilter_keep_set_matches_old_patterns(spark, prefilter_corpus,
                                                 mode):
    """The "<" guard plus [^<>] spans keep exactly the turns the old
    patterns kept that hold a "<" (the UDF skips the rest before any
    mode-specific work), and extraction emits the same triple and
    diagnostic rows as under the old filter."""
    text = F.col("text")
    old = prefilter_corpus.filter(text.rlike(_OLD_PATTERNS[mode]))
    opts = _MODES[mode]
    kept = extract._relevant_turns(prefilter_corpus,
                                   opts.get("hturtle_only", False),
                                   opts.get("microdata", False))
    expected = _turns(old.filter(text.contains("<")))
    assert _turns(kept) == expected
    # the corpus reaches both sides of the filter and of the guard
    assert 0 < len(expected) < len(_turns(old)) < prefilter_corpus.count()
    if mode == "rdfa":
        # the exported pattern alone keeps the same set as the old one
        assert _turns(prefilter_corpus.filter(
            text.rlike(extract.RDFA_PREFILTER))) == _turns(old)

    old_rows = old.select("conv_id", "turn_idx", "text").mapInArrow(
        functools.partial(extract._extract_batches, **opts),
        schema=extract.TRIPLE_SCHEMA).collect()
    new_rows = extract_tagged(prefilter_corpus, **opts).collect()
    assert Counter(map(tuple, new_rows)) == Counter(map(tuple, old_rows))
    assert any(r["kind"] == "t" for r in new_rows)


def _sink_input(spark):
    """4000 triple rows of 37 conversations in 4 input partitions;
    every partition holds rows of every bucket."""
    ids = spark.range(0, 4000, numPartitions=4)
    return ids.select(
        F.concat(F.lit("conv-"), (F.col("id") % 37).cast("string"))
        .alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.concat(F.lit("http://ex.org/s"),
                 (F.col("id") * 7919 % 1000).cast("string")).alias("subj"),
        F.concat(F.lit("http://ex.org/p"),
                 (F.col("id") % 5).cast("string")).alias("pred"),
        F.sha2(F.col("id").cast("string"), 256).alias("obj"),
        F.lit(False).alias("obj_is_iri"),
        F.lit(None).cast("string").alias("obj_lang"),
        F.lit(None).cast("string").alias("obj_datatype"))


def _bucket_files(path) -> dict[int, list[str]]:
    return {int(d.split("=", 1)[1]): sorted(
                os.path.join(path, d, f)
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet"))
            for d in os.listdir(path) if d.startswith("conv_bucket=")}


def test_write_triples_one_file_per_bucket(spark, tmp_path):
    """The sink hash-distributes rows by bucket: each ``conv_bucket=B``
    directory holds one file, every row sits in its own bucket's
    directory, nothing is lost or duplicated, and each file is sorted
    by (subj, pred)."""
    import pyarrow.parquet as pq

    from pyrdfa3_spark.plans.extract import conv_bucket, write_triples

    df = _sink_input(spark)
    assert df.rdd.getNumPartitions() >= 4
    out = str(tmp_path / "graph")
    write_triples(df, out, buckets=3)

    files = _bucket_files(out)
    assert sorted(files) == [0, 1, 2]
    assert all(len(fs) == 1 for fs in files.values()), files

    back = spark.read.parquet(out)
    assert (Counter(tuple(r) for r in back.select(*df.columns).collect())
            == Counter(tuple(r) for r in df.collect()))
    assert back.filter(conv_bucket(3) != F.col("conv_bucket")).count() == 0

    for fs in files.values():
        t = pq.read_table(fs[0], columns=["subj", "pred"])
        keys = list(zip(t["subj"].to_pylist(), t["pred"].to_pylist()))
        assert keys == sorted(keys)


def test_write_triples_splits_bucket_over_advisory_size(spark, tmp_path):
    """A bucket bigger than AQE's advisory partition size is split over
    several writer tasks, so one bucket never means one writer."""
    from pyrdfa3_spark.plans.extract import write_triples

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "16k")
    try:
        out = str(tmp_path / "graph")
        write_triples(_sink_input(spark), out, buckets=3)
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    files = _bucket_files(out)
    assert max(len(fs) for fs in files.values()) > 1, files
    assert spark.read.parquet(out).count() == 4000
