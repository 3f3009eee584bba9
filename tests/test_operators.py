"""Unit tests for graph/dedup/similarity/text operators on tiny frames
with hand-computed expectations (SURVEY.md §5.2 item 3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrdfa3_spark.functions.constants import (
    RDF_FIRST, RDF_NIL, RDF_REST, RDF_TYPE, RDFA_COPY, RDFA_PATTERN,
)
from pyrdfa3_spark.operators.dedup import (
    exact_duplicates, minhash_lsh_candidates, ngram_jaccard,
)
from pyrdfa3_spark.operators.graphops import (
    handle_prototypes, rdf_list_chain, subtract_graph, transitive_closure,
)
from pyrdfa3_spark.operators.similarity import cosine_topk
from pyrdfa3_spark.operators.textops import lang_id


def _triples(spark, rows):
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_handle_prototypes_small(spark):
    rows = [
        ("x", RDFA_COPY, "P"),
        ("P", RDF_TYPE, RDFA_PATTERN),
        ("P", "p:name", "N"),
        ("P", "p:age", "7"),
        ("y", "p:other", "z"),          # untouched
        ("Q", RDF_TYPE, RDFA_PATTERN),  # unreferenced pattern: kept as-is
        ("Q", "p:name", "QQ"),
    ]
    out = {tuple(r) for r in handle_prototypes(_triples(spark, rows)).collect()}
    assert out == {
        ("x", "p:name", "N"),
        ("x", "p:age", "7"),
        ("y", "p:other", "z"),
        ("Q", RDF_TYPE, RDFA_PATTERN),
        ("Q", "p:name", "QQ"),
    }


def test_transitive_closure_with_cycle(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")], ["src", "dst"])
    out = {tuple(r) for r in transitive_closure(edges).collect()}
    # cycle {a,b,c} fully connected (incl. self) + everything reaches d
    expected = {(x, y) for x in "abc" for y in "abcd"} | {("c", "d")}
    assert out == expected


def test_miniowl_interleaved_chains(spark):
    from pyrdfa3_spark.operators.graphops import (
        OWL_EQCLASS, OWL_EQPROP, OWL_SUBCLASS, OWL_SUBPROP, miniowl_expand,
    )
    vocab = _triples(spark, [
        ("p:a", OWL_SUBPROP, "p:b"),
        ("p:b", OWL_EQPROP, "p:c"),       # interleaved sub + equivalent
        ("c:x", OWL_SUBCLASS, "c:y"),
        ("c:y", OWL_SUBCLASS, "c:z"),
        ("c:z", OWL_EQCLASS, "c:w"),
    ])
    data = _triples(spark, [
        ("s", "p:a", "o"),
        ("i", RDF_TYPE, "c:x"),
    ])
    out = {tuple(r) for r in miniowl_expand(data, vocab).collect()}
    assert out == {
        ("s", "p:a", "o"), ("s", "p:b", "o"), ("s", "p:c", "o"),
        ("i", RDF_TYPE, "c:x"), ("i", RDF_TYPE, "c:y"),
        ("i", RDF_TYPE, "c:z"), ("i", RDF_TYPE, "c:w"),
    }


def test_subtract_graph(spark):
    a = _triples(spark, [("s", "p", "1"), ("s", "p", "2")])
    b = _triples(spark, [("s", "p", "2"), ("s", "p", "3")])
    assert [tuple(r) for r in subtract_graph(a, b).collect()] == \
        [("s", "p", "1")]


def test_rdf_list_chain_order_and_nil(spark):
    items = spark.createDataFrame(
        [("o1", "p", "v1", 1), ("o1", "p", "v2", 2), ("o2", "p", "w", 9)],
        ["origin", "pred", "value", "pos"])
    rows = rdf_list_chain(items).collect()
    by_pred = {}
    for r in rows:
        by_pred.setdefault(r["pred"], []).append(r)
    firsts = {r["obj"] for r in by_pred[RDF_FIRST]}
    assert firsts == {"v1", "v2", "w"}
    rests = by_pred[RDF_REST]
    nil_count = sum(1 for r in rests if r["obj"] == RDF_NIL)
    assert nil_count == 2  # one per list
    anchors = by_pred["p"]
    assert {r["subj"] for r in anchors} == {"o1", "o2"}
    # o1's chain: anchor head -> first v1, rest -> head2 -> first v2
    head1 = next(r["obj"] for r in anchors if r["subj"] == "o1")
    assert next(r["obj"] for r in by_pred[RDF_FIRST]
                if r["subj"] == head1) == "v1"


@pytest.fixture(scope="module")
def dup_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the green forest tonight")
    rows = [
        (0, base),
        (1, base.upper()),                       # exact dup after normalize
        (2, base.replace("green", "blue")),      # near dup
        (3, "completely different text about spark and iceberg tables "
            "partitioned by bucket for large scale analytics workloads"),
        (4, base),                               # exact dup
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_duplicates(spark, dup_docs):
    out = exact_duplicates(dup_docs).collect()
    assert len(out) == 1
    assert out[0]["n_docs"] == 3 and out[0]["keep_id"] == 0


def test_minhash_finds_near_dups(spark, dup_docs):
    pairs = {(r["doc_a"], r["doc_b"])
             for r in minhash_lsh_candidates(dup_docs, k=5, n_hashes=8,
                                             bands=4).collect()}
    assert (0, 1) in pairs and (0, 4) in pairs
    assert (0, 2) in pairs  # near-dup shares most shingles
    assert not any(3 in p for p in pairs)


def test_incremental_exact_dups(spark, dup_docs):
    from pyrdfa3_spark.operators.dedup import incremental_exact_dups

    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog and then "
              "runs far away into the green forest tonight"),  # = corpus 0
         (11, "a genuinely new document that exists nowhere else yet"),
         (12, "twin content only inside this ingest batch today"),
         (13, "twin content only inside this ingest batch today")],
        ["doc_id", "text"])
    out = {r["doc_id"]: (r["dup_of"], r["source"])
           for r in incremental_exact_dups(dup_docs, batch).collect()}
    # 10 dups corpus keeper 0; 13 dups batch keeper 12; 11 and 12 absent
    assert out == {10: (0, "corpus"), 13: (12, "batch")}


def test_incremental_lsh_no_corpus_corpus_pairs(spark, dup_docs):
    from pyrdfa3_spark.operators.dedup import incremental_lsh_candidates

    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog and then "
              "runs far away into the green forest tonight")],
        ["doc_id", "text"])
    rows = incremental_lsh_candidates(dup_docs, batch, k=5, n_hashes=8,
                                      bands=4).collect()
    # every pair touches the batch; corpus docs 0/1/4 are mutual dups
    # but must NOT pair with each other here
    assert all(r["doc_b"] == 10 and r["pair_kind"] == "corpus"
               for r in rows)
    assert {r["doc_a"] for r in rows} >= {0, 1, 4}
    assert not any(r["doc_a"] == 3 for r in rows)


def test_incremental_dedup_decision(spark, dup_docs):
    from pyrdfa3_spark.operators.dedup import incremental_dedup_decision

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the green forest tonight")
    batch = spark.createDataFrame(
        [(10, base),                                         # corpus dup
         (11, "a genuinely new document that exists nowhere else yet "
              "with enough words to shingle on its own terms"),
         (12, "twin content only inside this ingest batch today with "
              "plenty of repeated shingle material to verify"),
         (13, "twin content only inside this ingest batch today with "
              "plenty of repeated shingle material to verify")],
        ["doc_id", "text"])
    out = {r["doc_id"]: (r["keep_id"], r["is_dup"])
           for r in incremental_dedup_decision(dup_docs, batch).collect()}
    assert out[10] == (0, True)          # dropped for the corpus keeper
    assert out[12] == (12, False)        # batch twin keeper survives
    assert out[13] == (12, True)
    assert 11 not in out                 # genuinely new: no cluster row


def test_incremental_lsh_star_links_big_corpus_bucket(spark):
    from pyspark.sql import functions as F

    from pyrdfa3_spark.operators.dedup import incremental_lsh_candidates

    boiler = ("the same boilerplate footer text appears on every page "
              "of this crawled site")
    corpus = spark.range(1_000).select(
        F.col("id").alias("doc_id"), F.lit(boiler).alias("text"))
    batch = spark.createDataFrame(
        [(100_000, boiler), (100_001, boiler)], ["doc_id", "text"])
    rows = incremental_lsh_candidates(corpus, batch, k=5, n_hashes=8,
                                      bands=4, max_bucket=64).collect()
    cross = {(r["doc_a"], r["doc_b"]) for r in rows
             if r["pair_kind"] == "corpus"}
    within = {(r["doc_a"], r["doc_b"]) for r in rows
              if r["pair_kind"] == "batch"}
    # oversized corpus bucket: each batch doc links to the corpus
    # keeper only, never to all 1000 members
    assert cross == {(0, 100_000), (0, 100_001)}
    assert within == {(100_000, 100_001)}


def test_minhash_degenerate_bucket_capped(spark):
    """10k identical docs land in one bucket per band; the cap must
    star-link them (N-1 pairs to the min doc_id) instead of exploding
    ~50M all-pairs through a single task."""
    from pyspark.sql import functions as F

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate footer text appears on every page "
              "of this crawled site").alias("text"))
    pairs = minhash_lsh_candidates(docs, k=5, n_hashes=8, bands=4,
                                   max_bucket=256)
    rows = pairs.collect()
    assert len(rows) == n - 1                       # star, not quadratic
    assert all(r["doc_a"] == 0 for r in rows)       # rep = min doc_id
    assert {r["doc_b"] for r in rows} == set(range(1, n))

    from pyrdfa3_spark.operators.dedup import minhash_lsh_bucket_stats
    stats = minhash_lsh_bucket_stats(docs, k=5, n_hashes=8, bands=4,
                                     max_bucket=256).collect()
    assert len(stats) == 4                          # one bucket per band
    expected_dropped = n * (n - 1) // 2 - (n - 1)
    assert all(r["n_docs"] == n and r["dropped_pairs"] == expected_dropped
               for r in stats)


def test_lsh_cosine_degenerate_bucket_capped(spark):
    from pyspark.sql import functions as F

    from pyrdfa3_spark.operators.similarity import lsh_cosine_candidates

    n = 5_000
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(i + 1)) for i in range(8)]).alias("embedding"))
    pairs = lsh_cosine_candidates(emb, dim=8, n_planes=4, max_bucket=64)
    rows = pairs.collect()
    assert len(rows) == n - 1
    assert all(r["vec_a"] == 0 for r in rows)


def test_ngram_jaccard_values(spark, dup_docs):
    pairs = spark.createDataFrame([(0, 4), (0, 3)], ["doc_a", "doc_b"])
    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in ngram_jaccard(dup_docs, pairs, k=5).collect()}
    assert out[(0, 4)] == 1.0
    assert out[(0, 3)] < 0.1


def test_lang_id_markers(spark):
    docs = spark.createDataFrame(
        [(0, "the cat and the dog of the house is big"),
         (1, "le chat et la maison des amis le soir"),
         (2, "zzz qqq xxx")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["lang_pred"] for r in lang_id(docs).collect()}
    assert out == {0: "en", 1: "fr", 2: "und"}


def test_cosine_topk_self_similarity(spark):
    rows = [(0, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0]),
            (3, [0.7, 0.7])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {(r["query_id"], r["rank"]): (r["vec_id"], r["cos_sim"])
           for r in cosine_topk(emb, [0], top_k=3).collect()}
    assert out[(0, 1)] == (1, 1.0)          # identical vector first
    assert out[(0, 2)][0] == 3              # diagonal second
    assert out[(0, 3)] == (2, 0.0)          # orthogonal last


def test_ivf_matches_numpy_oracle(spark):
    """ivf_train / ivf_assign / ivf_topk vs an independent numpy
    implementation of the same deterministic k-means + probe search."""
    import numpy as np

    from pyrdfa3_spark.operators.similarity import (
        ivf_assign, ivf_topk, ivf_train,
    )

    rng = np.random.RandomState(7)
    dim, n, n_cells, iters = 8, 120, 4, 2
    vecs = rng.randn(n, dim)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    def np_cos(a, b):
        return a @ b / (np.linalg.norm(a) * np.linalg.norm(b))

    def np_best(v, cents):
        sims = [round(np_cos(v, np.array(c)), 9) for c in cents]
        return int(np.argmax(sims))  # argmax ties -> lowest index

    cents = [list(vecs[i]) for i in range(n_cells)]
    for _ in range(iters):
        assign = [np_best(vecs[i], cents) for i in range(n)]
        for c in range(n_cells):
            members = [vecs[i] for i in range(n) if assign[i] == c]
            if members:
                cents[c] = list(np.mean(members, axis=0))

    got_cents = ivf_train(emb, n_cells=n_cells, iters=iters)
    assert np.allclose(np.array(got_cents), np.array(cents), atol=1e-9)

    got_assign = {r["vec_id"]: r["cell"]
                  for r in ivf_assign(emb, got_cents).collect()}
    exp_assign = {i: np_best(vecs[i], cents) for i in range(n)}
    assert got_assign == exp_assign

    # probe search: expected = brute force restricted to nprobe cells
    qid, nprobe, top_k = 5, 2, 4
    sims_to_cents = [round(np_cos(vecs[qid], np.array(c)), 9)
                     for c in cents]
    probe_cells = [i for _, i in
                   sorted(((-s, i) for i, s in enumerate(sims_to_cents)))
                   ][:nprobe]
    cand = [i for i in range(n)
            if i != qid and exp_assign[i] in probe_cells]
    exp = sorted(((-round(np_cos(vecs[qid], vecs[i]), 4), i)
                  for i in cand))[:top_k]
    got = {r["rank"]: (r["vec_id"], r["cos_sim"])
           for r in ivf_topk(emb, [qid], got_cents,
                             nprobe=nprobe, top_k=top_k).collect()}
    for rank, (negs, i) in enumerate(exp, start=1):
        assert got[rank] == (i, -negs)


def test_checkpoint_resume(spark, tmp_path):
    from pyrdfa3_spark.sources.transcripts import synth_transcripts
    from pyrdfa3_spark.streaming.checkpoint import run_bucketed

    t = synth_transcripts(spark, n_conv=10, turns_per_conv=10,
                          skew_factor=2)
    out = str(tmp_path / "ckpt")
    m1 = run_bucketed(t, out, n_buckets=2)
    assert m1["processed_buckets"] == [0, 1]
    m2 = run_bucketed(t, out, n_buckets=2)
    assert m2["processed_buckets"] == [] and m2["skipped_buckets"] == [0, 1]


def test_checkpoint_writes_triple_file_format(spark, tmp_path):
    """``run_bucketed`` writes each ``conv_bucket=b`` directory in the
    format ``write_triples`` and compaction write into that layout:
    zstd-compressed parquet, rows sorted by (subj, pred) in each
    file, as the file footers record."""
    import glob

    import pyarrow.parquet as pq

    from pyrdfa3_spark.sources.transcripts import synth_transcripts
    from pyrdfa3_spark.streaming.checkpoint import run_bucketed

    t = synth_transcripts(spark, n_conv=10, turns_per_conv=10,
                          skew_factor=2)
    out = str(tmp_path / "ckpt")
    run_bucketed(t, out, n_buckets=2)
    files = glob.glob(f"{out}/conv_bucket=*/*.parquet")
    rows = 0
    for f in files:
        pf = pq.ParquetFile(f)
        meta = pf.metadata
        assert {meta.row_group(g).column(c).compression
                for g in range(meta.num_row_groups)
                for c in range(meta.num_columns)} == {"ZSTD"}, f
        tab = pf.read(columns=["subj", "pred"])
        keys = list(zip(tab.column("subj").to_pylist(),
                        tab.column("pred").to_pylist()))
        assert keys == sorted(keys), f
        rows += len(keys)
    assert rows > 0


def test_checkpoint_stale_detection(spark, tmp_path):
    from pyrdfa3_spark.sources.transcripts import synth_transcripts
    from pyrdfa3_spark.streaming.checkpoint import run_bucketed, stale_buckets

    t = synth_transcripts(spark, n_conv=10, turns_per_conv=10,
                          skew_factor=2)
    out = str(tmp_path / "ckpt")
    run_bucketed(t, out, n_buckets=2)
    assert stale_buckets(t, out) == set()
    # upstream rewrite: one conversation gains a turn -> exactly the
    # bucket holding it goes stale
    extra = t.limit(1).withColumn(
        "turn_idx", (F.col("turn_idx") + 1000).cast("int"))
    changed_conv = extra.first()["conv_id"]
    t2 = t.unionByName(extra)
    stale = stale_buckets(t2, out)
    expected = t2.select(F.pmod(F.hash(F.lit(changed_conv)), F.lit(2))
                         .alias("b")).first()["b"]
    assert stale == {expected}


def test_multimodal_plumbing(spark):
    """Binary payload columns, batch shapes, resize and frame-sample
    semantics of the (stubbed-decode) multimodal operators."""
    import pytest

    from pyrdfa3_spark.operators.multimodal import (
        extract_features, resize_images, sample_frames, synth_media,
    )

    media = synth_media(spark, 12)
    assert dict(media.dtypes)["payload"] == "binary"

    feats = extract_features(media, dim=16).collect()
    assert len(feats) == 12
    assert all(len(r["feature"]) == 16 and r["n_bytes"] == 32 for r in feats)
    # determinism: same payload -> same feature
    again = extract_features(media, dim=16).collect()
    assert sorted((r["media_id"], tuple(r["feature"])) for r in feats) == \
        sorted((r["media_id"], tuple(r["feature"])) for r in again)

    rs = resize_images(media, 224, 224).collect()
    n_images = media.filter("kind = 'image'").count()
    assert len(rs) == n_images
    assert all(r["width"] == 224 and r["height"] == 224
               and len(bytes(r["payload"])) == 32 for r in rs)

    fr = sample_frames(media, every_ms=1000, dim=8)
    got = fr.groupBy("media_id").count().collect()
    vids = {r["media_id"]: r["duration_ms"]
            for r in media.filter("kind = 'video' AND fps > 0").collect()}
    assert {r["media_id"] for r in got} == set(vids)
    for r in got:  # one frame per started second
        assert r["count"] == (vids[r["media_id"]] + 999) // 1000
    one = fr.filter("frame_idx = 1").first()
    assert one["ts_ms"] == 1000 and len(one["feature"]) == 8

    # fake=False on non-PNG payloads: honest refusal inside the task
    with pytest.raises(Exception, match="NotImplementedError|decode"):
        extract_features(media, fake=False).collect()


def _encode_png_independent(px, ctype, filters, palette=None):
    """Minimal PNG writer INDEPENDENT of the library's png_encode (its
    own chunk/CRC/filter code) so decode tests aren't self-referential.
    ``filters[y]`` picks the filter byte per scanline, with the filter
    transforms applied forward here and reconstructed by the decoder."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = px.shape

    def chunk(typ, data):
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data \
            + struct.pack(">I", crc)

    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int64)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int64)
        f = filters[y % len(filters)]
        enc = np.zeros(w * ch, dtype=np.int64)
        for i in range(w * ch):
            a = line[i - ch] if i >= ch else 0
            b = prev[i]
            c = prev[i - ch] if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else \
                    (b if pb <= pc else c)
            enc[i] = (line[i] - pred) & 0xFF
        raw.append(f)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", palette.astype(np.uint8).tobytes())
    return out + chunk(b"IDAT", zlib.compress(bytes(raw))) \
        + chunk(b"IEND", b"")


def test_png_decode_byte_exact():
    """The pure-stdlib PNG codec: every scanline filter and the common
    color types reconstruct byte-exactly against an independent
    encoder; unsupported shapes refuse."""
    import numpy as np
    import pytest

    from pyrdfa3_spark.operators.multimodal import (
        png_decode, png_encode, png_features, png_info,
    )

    rng = np.random.RandomState(7)
    # RGB through all five filters
    px = rng.randint(0, 256, (10, 7, 3)).astype(np.uint8)
    payload = _encode_png_independent(px, 2, [0, 1, 2, 3, 4])
    assert png_info(payload)[:4] == (7, 10, 8, 2)
    assert np.array_equal(png_decode(payload), px)
    # grayscale, gray+alpha, RGBA
    for ch, ctype in ((1, 0), (2, 4), (4, 6)):
        q = rng.randint(0, 256, (5, 4, ch)).astype(np.uint8)
        assert np.array_equal(
            png_decode(_encode_png_independent(q, ctype, [4, 3, 1])), q)
    # palette image maps through PLTE
    idx = rng.randint(0, 4, (6, 5, 1)).astype(np.uint8)
    plte = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 8, 9]])
    got = png_decode(_encode_png_independent(idx, 3, [0, 2],
                                             palette=plte))
    assert np.array_equal(got, plte[idx[:, :, 0]])
    # round-trip through the library's own encoder
    assert np.array_equal(png_decode(png_encode(px)), px)
    # features: hand-computed grayscale mean-pool in milli units
    flat = px[:, :, :3].mean(axis=2).ravel()
    buckets = np.array_split(flat, 6)
    expect = [round(float(b.mean()) * 1000 / 255) for b in buckets]
    assert png_features(payload, 6).tolist() == expect
    # refusals: not-a-png and 16-bit depth
    with pytest.raises(ValueError):
        png_decode(b"\x00" * 64)
    deep = bytearray(_encode_png_independent(px, 2, [0]))
    deep[24] = 16  # IHDR bit-depth byte
    with pytest.raises(NotImplementedError):
        png_decode(bytes(deep))


def test_multimodal_real_png_path(spark):
    """fake=False end-to-end: PNG payloads decode for real through the
    Arrow-batched operators — features match the hand-computable
    grayscale pooling, resize is a true nearest-neighbor resample."""
    import numpy as np

    from pyrdfa3_spark.operators.multimodal import (
        extract_features, png_decode, png_features, resize_images,
    )

    rng = np.random.RandomState(11)
    imgs = {i: rng.randint(0, 256, (8 + i, 6 + i, 3)).astype(np.uint8)
            for i in range(3)}
    rows = [(i, "image", bytearray(_encode_png_independent(
        px, 2, [0, 1, 2, 3, 4])), px.shape[1], px.shape[0], 0, 0)
        for i, px in imgs.items()]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, width int, "
              "height int, duration_ms int, fps int")

    feats = {r["media_id"]: r
             for r in extract_features(media, dim=8,
                                       fake=False).collect()}
    for i, px in imgs.items():
        milli = png_features(
            bytes(_encode_png_independent(px, 2, [0, 1, 2, 3, 4])), 8)
        assert feats[i]["feature_str"] == \
            ",".join(str(int(v)) for v in milli)
        assert feats[i]["feature"] == [
            float(np.float32(v) / np.float32(1000.0)) for v in milli]

    rs = {r["media_id"]: r
          for r in resize_images(media, 4, 5, fake=False).collect()}
    for i, px in imgs.items():
        out = png_decode(bytes(rs[i]["payload"]))
        h, w = px.shape[:2]
        ys = (np.arange(5) * h) // 5
        xs = (np.arange(4) * w) // 4
        assert np.array_equal(out, px[ys][:, xs])
        assert (rs[i]["width"], rs[i]["height"]) == (4, 5)


def test_sameas_canonicalization(spark):
    from pyrdfa3_spark.operators.entity_link import (
        SAMEAS, rewrite_canonical, sameas_canonical_map,
    )

    # two components: chain a-b-c-d (canon a) and pair x-y (canon x);
    # direction must not matter
    edges = spark.createDataFrame(
        [("urn:b", "urn:a"), ("urn:b", "urn:c"), ("urn:d", "urn:c"),
         ("urn:y", "urn:x")], ["src", "dst"])
    m = {r["node"]: r["canon"]
         for r in sameas_canonical_map(edges).collect()}
    assert m == {"urn:a": "urn:a", "urn:b": "urn:a", "urn:c": "urn:a",
                 "urn:d": "urn:a", "urn:x": "urn:x", "urn:y": "urn:x"}

    triples = spark.createDataFrame(
        [("urn:d", "p:knows", "urn:y"),
         ("urn:a", "p:knows", "urn:y"),       # collapses with the above
         ("urn:b", SAMEAS, "urn:c"),          # intra-component: dropped
         ("urn:z", "p:name", "lit")],         # unmapped: untouched
        ["subj", "pred", "obj"])
    mapping = spark.createDataFrame(
        [(k, v) for k, v in m.items()], ["node", "canon"])
    out = {tuple(r) for r in rewrite_canonical(triples, mapping).collect()}
    assert out == {("urn:a", "p:knows", "urn:x"),
                   ("urn:z", "p:name", "lit")}


def test_sameas_long_chain_pointer_jumping(spark):
    """A 60-hop alias chain must converge well under 60 rounds (pointer
    jumping doubles label reach per round) and an exhausted budget must
    raise instead of returning silently wrong canon labels."""
    import pytest

    from pyrdfa3_spark.operators.entity_link import sameas_canonical_map

    n = 60
    edges = spark.createDataFrame(
        [(f"urn:n{i:03d}", f"urn:n{i - 1:03d}") for i in range(1, n)],
        ["src", "dst"])
    m = {r["node"]: r["canon"]
         for r in sameas_canonical_map(edges, max_iterations=8).collect()}
    assert len(m) == n
    assert all(v == "urn:n000" for v in m.values())

    with pytest.raises(RuntimeError, match="did not converge"):
        sameas_canonical_map(edges, max_iterations=2)


def test_transitive_closure_exhaustion_raises(spark):
    import pytest

    from pyrdfa3_spark.operators.graphops import transitive_closure

    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(12)], ["src", "dst"])
    with pytest.raises(RuntimeError, match="still growing"):
        transitive_closure(chain, max_iterations=3)
    out = transitive_closure(chain, max_iterations=15)
    assert out.count() == 12 * 13 // 2


def test_link_mentions_lexicon(spark):
    from pyrdfa3_spark.operators.entity_link import (
        build_lexicon, link_mentions,
    )

    docs = spark.createDataFrame(
        [(0, "spark spark table row"), (1, "TABLE  spark"), (2, "row")],
        ["doc_id", "text"])
    lex = {r["name"]: (r["entity_id"], r["freq"])
           for r in build_lexicon(docs, top_n=2).collect()}
    # freq: spark=3; row and table tie at 2 -> 'row' wins the tie
    assert lex == {"spark": (1, 3), "row": (2, 2)}
    out = {(r["doc_id"], r["mention"]): r["n_mentions"]
           for r in link_mentions(
               docs, build_lexicon(docs, top_n=2)).collect()}
    assert out == {(0, "spark"): 2, (0, "row"): 1, (1, "spark"): 1,
                   (2, "row"): 1}


def test_rdfa_semantic_expansion_end_to_end(spark):
    """process_rdfa_sem flow: extraction emits usesVocabulary, the
    matching vocab is pulled from the dim table, expansion applies its
    subPropertyOf/subClassOf chains, vocab triples stay out."""
    from pyrdfa3_spark.functions.constants import RDF_TYPE
    from pyrdfa3_spark.operators.graphops import (
        OWL_SUBCLASS, OWL_SUBPROP, rdfa_semantic_expansion,
    )
    from pyrdfa3_spark.plans.extract import extract_triples

    rows = [("c1", 0, "u",
             '<div vocab="http://voc.example/" about="#it" typeof="Dog">'
             '<span property="barksAt">postman</span></div>', "b", None)]
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    triples = extract_triples(t)
    vocab_dim = spark.createDataFrame(
        [("http://voc.example/", "http://voc.example/barksAt",
          OWL_SUBPROP, "http://voc.example/communicatesWith"),
         ("http://voc.example/", "http://voc.example/Dog",
          OWL_SUBCLASS, "http://voc.example/Animal"),
         ("http://other.example/", "http://other.example/x",
          OWL_SUBCLASS, "http://other.example/y")],  # unused vocab
        ["vocab", "subj", "pred", "obj"])
    out = {tuple(r) for r in
           rdfa_semantic_expansion(triples, vocab_dim).collect()}
    subj = "http://transcript.local/c1/0#it"
    assert (subj, "http://voc.example/communicatesWith", "postman") in out
    assert (subj, RDF_TYPE, "http://voc.example/Animal") in out
    assert (subj, "http://voc.example/barksAt", "postman") in out
    # vocab triples subtracted; unused vocab never joined
    assert not any("subClassOf" in p for (_, p, _) in out)
    assert not any("other.example" in s for (s, _, _) in out)


def test_near_dup_pipeline_composition(spark, dup_docs):
    from pyrdfa3_spark.operators.dedup import near_dup_pipeline

    out = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in near_dup_pipeline(dup_docs, jaccard_threshold=0.5)
           .collect()}
    assert out[(0, 1)] == 1.0 and out[(0, 4)] == 1.0  # exact dups
    assert 0.5 <= out[(0, 2)] < 1.0                   # near dup kept
    assert not any(3 in p for p in out)               # unrelated dropped


def test_transitive_closure_doubling_strategy(spark):
    """Path-doubling must reach a depth-24 chain's closure in O(log d)
    rounds (semi-naive would need 24) and agree with semi-naive."""
    import pytest

    chain = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(24)], ["src", "dst"])
    out = transitive_closure(chain, max_iterations=7, strategy="doubling")
    assert out.count() == 24 * 25 // 2
    ref = transitive_closure(chain, max_iterations=30)
    assert {tuple(r) for r in out.collect()} == \
        {tuple(r) for r in ref.collect()}
    with pytest.raises(RuntimeError, match="still growing"):
        transitive_closure(chain, max_iterations=2, strategy="doubling")
    with pytest.raises(ValueError):
        transitive_closure(chain, strategy="nope")


def test_bpe_token_count_segments(spark):
    from pyrdfa3_spark.operators.textops import bpe_token_count

    docs = spark.createDataFrame(
        [(0, "It's 42 test-cases, really!"), (1, ""), (2, "   ")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_token_count(docs).collect()}
    # It|'s| 42| test|-|cases|,| really|!  = 9 pre-tokenizer segments
    assert out[0] == 9
    assert out[1] == 0 and out[2] == 1  # whitespace run is one segment


def test_rolling_fingerprint_locality(spark):
    """Rolling min-hash is stable under edits away from the minimizing
    window (the winnowing property) and matches an independent Python
    implementation."""
    from pyrdfa3_spark.operators.textops import rolling_fingerprint

    a = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(0, a), (1, a + " extra tail that changes nothing up front"),
         (2, "completely different content here"), (3, "")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["rolling_fp"]
           for r in rolling_fingerprint(docs).collect()}

    def py_roll(s, k=8, base=131, mod=1_000_000_007):
        import re
        s = re.sub(r"\s+", " ", s.lower()).strip()
        s = s + " " * (k - len(s)) if len(s) < k else s
        return min(sum(ord(s[i + j]) * base ** (k - 1 - j)
                       for j in range(k)) % mod
                   for i in range(len(s) - k + 1))

    assert out[0] == py_roll(a)
    assert out[2] == py_roll("completely different content here")
    assert out[3] == py_roll("")
    # tail edit far from the minimizing window usually keeps the fp;
    # verify against the python oracle rather than assuming
    assert out[1] == py_roll(a + " extra tail that changes nothing up front")


def test_quality_score_stop_ratio(spark):
    from pyrdfa3_spark.operators.textops import quality_score

    docs = spark.createDataFrame(
        [(0, "the cat and the dog"), (1, "xyzzy plugh")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r["stop_ratio"] for r in quality_score(docs).collect()}
    assert out[0] == 0.6   # the, and, the = 3 of 5 tokens
    assert out[1] == 0.0


def test_dedup_decision_clusters(spark, dup_docs):
    from pyrdfa3_spark.operators.dedup import dedup_decision

    out = {r["doc_id"]: (r["keep_id"], r["is_dup"])
           for r in dedup_decision(dup_docs, jaccard_threshold=0.5)
           .collect()}
    # docs 0,1,2,4 form one near-dup cluster; 0 is kept, rest dropped
    assert out[0] == (0, False)
    assert out[1] == (0, True) and out[4] == (0, True)
    assert out[2] == (0, True)
    assert 3 not in out  # unrelated doc never enters the decision


def test_redact_scrubs_pii(spark):
    from pyrdfa3_spark.operators.curation import redact

    docs = spark.createDataFrame(
        [(0, "mail a.b+c@ex-ample.org or http://x.example/p?q=1 "
             "from 192.168.1.7 ok"),
         (1, "clean text")],
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in redact(docs).collect()}
    assert out[0]["clean_text"] == "mail <EMAIL> or <URL> from <IP> ok"
    assert (out[0]["n_emails"], out[0]["n_urls"], out[0]["n_ips"]) \
        == (1, 1, 1)
    assert out[1]["clean_text"] == "clean text"
    assert out[1]["n_emails"] == 0


def test_top_ngrams_and_domains(spark):
    from pyrdfa3_spark.operators.curation import domain_stats, top_ngrams

    docs = spark.createDataFrame(
        [(0, "big data big data small data"), (1, "big data again"),
         (2, "see https://a.example/x and https://b.example/y and "
             "https://a.example/z")],
        ["doc_id", "text"])
    grams = [(r["rank"], r["ngram"], r["n"])
             for r in top_ngrams(docs.filter("doc_id < 2"),
                                 n=2, top_n=3).collect()]
    assert grams[0] == (1, "big data", 3)
    assert grams[1] == (2, "data again", 1)  # ties ordered by ngram asc
    assert grams[2] == (3, "data big", 1)

    doms = [(r["rank"], r["domain"], r["n"])
            for r in domain_stats(docs, top_n=5).collect()]
    assert doms == [(1, "a.example", 2), (2, "b.example", 1)]


def test_corpus_filter_reasons(spark):
    from pyrdfa3_spark.operators.curation import corpus_filter

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the green forest tonight to sleep") * 2
    docs = spark.createDataFrame(
        [(0, base), (1, base.upper()),          # near-dup cluster {0,1}
         (2, "tiny"),                           # short
         (3, "9" * 150)],                       # long but no letters
        ["doc_id", "text"])
    out = {r["doc_id"]: (r["keep"], r["reason"])
           for r in corpus_filter(docs, jaccard_threshold=0.5,
                                  min_alpha_ratio=0.5).collect()}
    assert out[0] == (True, None)               # cluster keeper survives
    assert out[1] == (False, "near_duplicate")
    assert out[2] == (False, "short")
    assert out[3] == (False, "low_alpha")


# ------------------------------------------------------------------ #
# training-mix curation: packing / decontamination / sampling / quota
# (each cross-checked against an independent pure-python computation,
# not just the SQL oracle — rpad-style dual-engine blind spots)
# ------------------------------------------------------------------ #

def _py_h32(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


@pytest.fixture(scope="module")
def mix_docs(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon nothing shared here"),
        (2, "totally different words in this one document body"),
        (3, "x " * 150),                       # medium length
        (4, "y " * 300),                       # long
        (5, ""),                               # empty
        (6, "alpha beta gamma delta epsilon zeta eta theta tail"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_pack_sequences_matches_python(spark, mix_docs):
    from pyrdfa3_spark.operators.curation import pack_sequences

    out = {r["doc_id"]: r for r in
           pack_sequences(mix_docs, seq_len=16, n_shards=4).collect()}
    rows = [(i, t) for i, t in mix_docs.collect()]
    ntok = {i: (0 if not t.strip() else len(t.split())) for i, t in rows}
    shard = {i: _py_h32(str(i)) % 4 for i, _ in rows}
    for s in set(shard.values()):
        off = 0
        for i in sorted(k for k in shard if shard[k] == s):
            r = out[i]
            assert (r["shard"], r["n_tokens"]) == (s, ntok[i])
            assert r["start_offset"] == off
            assert r["pack_id"] == off // 16
            off += ntok[i]


def test_decontaminate_matches_python(spark, mix_docs):
    from pyrdfa3_spark.operators.curation import decontaminate

    eval_docs = mix_docs.filter("doc_id = 0")
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in decontaminate(mix_docs, eval_docs, n=5).collect()}

    def grams(t, n=5):
        toks = t.lower().split()
        return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

    ev = grams("alpha beta gamma delta epsilon zeta eta theta")
    for i, t in mix_docs.collect():
        hits = len(grams(t) & ev)
        assert out[i] == (hits, hits > 0), (i, out[i], hits)
    # docs 0/1/6 share the "alpha beta gamma delta epsilon" 5-gram;
    # doc 2 has disjoint vocabulary
    assert out[0][1] and out[1][1] and out[6][1]
    assert not out[2][1]


def test_stratified_sample_matches_python(spark, mix_docs):
    from pyrdfa3_spark.operators.curation import stratified_sample

    frac = {"short": 1.0, "medium": 0.5, "long": 0.0}
    kept = {r["doc_id"]: r["stratum"]
            for r in stratified_sample(mix_docs, frac,
                                       bounds=(100, 400)).collect()}
    for i, t in mix_docs.collect():
        stratum = ("short" if len(t) < 100
                   else "medium" if len(t) < 400 else "long")
        expect = _py_h32(f"samp|{i}") % 1000 < int(frac[stratum] * 1000)
        assert (i in kept) == expect
        if i in kept:
            assert kept[i] == stratum


def test_quota_mix_matches_python(spark, mix_docs):
    from pyrdfa3_spark.operators.curation import quota_mix

    out = {r["doc_id"]: (r["stratum"], r["rnk"])
           for r in quota_mix(mix_docs, quota=2,
                              bounds=(100, 400)).collect()}
    strata: dict = {}
    for i, t in mix_docs.collect():
        s = ("short" if len(t) < 100
             else "medium" if len(t) < 400 else "long")
        strata.setdefault(s, []).append((_py_h32(f"mix|{i}"), i))
    expect = {}
    for s, members in strata.items():
        for rnk, (_, i) in enumerate(sorted(members), start=1):
            if rnk <= 2:
                expect[i] = (s, rnk)
    assert out == expect


# ------------------------------------------------------------------ #
# KG query surface: BGP matching + property-table pivot
# ------------------------------------------------------------------ #

@pytest.fixture(scope="module")
def kg_triples(spark):
    rows = [
        ("a", "p:knows", "b"), ("b", "p:knows", "c"),
        ("a", "p:name", "Ada"), ("b", "p:name", "Bob"),
        ("b", "p:name", "Bobby"),          # multi-valued
        ("c", "p:knows", "c"),             # self-loop
        ("a", "p:type", "Person"), ("b", "p:type", "Person"),
    ]
    return spark.createDataFrame(rows, ["subj", "pred", "obj"])


def test_bgp_match_join_and_constants(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_match

    out = sorted(tuple(r) for r in bgp_match(kg_triples, [
        ("?x", "p:knows", "?y"),
        ("?y", "p:name", "?n"),
        ("?x", "p:type", "Person"),
    ]).select("x", "y", "n").collect())
    assert out == [("a", "b", "Bob"), ("a", "b", "Bobby")]


def test_bgp_match_repeated_variable_and_errors(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_match

    loops = [tuple(r) for r in
             bgp_match(kg_triples, [("?x", "p:knows", "?x")]).collect()]
    assert loops == [("c",)]

    with pytest.raises(ValueError, match="disjoint"):
        bgp_match(kg_triples, [("?x", "p:knows", "?y"),
                               ("?a", "p:name", "?b")]).collect()
    # a ground pattern binds nothing: one empty solution when the
    # triple exists, none when it does not
    hit = bgp_match(kg_triples, [("a", "p:knows", "b")])
    assert hit.columns == [] and hit.count() == 1
    assert bgp_match(kg_triples, [("a", "p:knows", "c")]).count() == 0


def test_property_table_pivot(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import property_table

    out = {r["subj"]: (r["name"], r["knows"])
           for r in property_table(
               kg_triples, ["p:name", "p:knows"]).collect()}
    # multi-valued p:name keeps the minimum ("Bob" < "Bobby")
    assert out == {"a": ("Ada", "b"), "b": ("Bob", "c"),
                   "c": (None, "c")}

    with pytest.raises(ValueError, match="collide"):
        property_table(kg_triples, ["a#x", "b/x"])


def test_bgp_match_optional(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_match

    out = {(r["x"], r["y"]): r["n"] for r in bgp_match(
        kg_triples, [("?x", "p:knows", "?y")],
        optional=[("?y", "p:name", "?n")]).collect()}
    # c has no p:name -> NULL binding survives the left join
    assert out[("b", "c")] is None and out[("c", "c")] is None
    assert out[("a", "b")] in ("Bob", "Bobby")
    n_rows = bgp_match(kg_triples, [("?x", "p:knows", "?y")],
                       optional=[("?y", "p:name", "?n")]).count()
    assert n_rows == 4  # (a,b)x2 names + (b,c) + (c,c)

    with pytest.raises(ValueError, match="shares no variable"):
        bgp_match(kg_triples, [("?x", "p:knows", "?y")],
                  optional=[("?q", "p:name", "?m")]).collect()


def test_bgp_match_filters(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_match

    out = sorted(tuple(r) for r in bgp_match(
        kg_triples, [("?x", "p:name", "?n")],
        filters=["n >= 'B'", "x <> 'zzz'"]).collect())
    assert out == [("b", "Bob"), ("b", "Bobby")]

    # FILTER over an OPTIONAL variable: NULL comparison drops the row
    # (SPARQL: an error-valued filter removes the solution)
    kept = bgp_match(kg_triples, [("?x", "p:knows", "?y")],
                     optional=[("?y", "p:name", "?n")],
                     filters=["n < 'Bz'"]).count()
    assert kept == 2  # only (a,b,Bob) and (a,b,Bobby)


def test_bgp_union(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_union

    out = bgp_union(kg_triples, [
        {"patterns": [("?e", "p:name", "?n")]},
        {"patterns": [("?e", "p:type", "?t")]},
    ])
    assert sorted(out.columns) == ["e", "n", "t"]
    rows = {(r["e"], r["n"], r["t"]) for r in out.collect()}
    # branch-local variables are NULL in the other branch's rows
    assert ("a", "Ada", None) in rows and ("a", None, "Person") in rows
    assert out.count() == 5

    with pytest.raises(ValueError, match="at least one branch"):
        bgp_union(kg_triples, [])


def test_path_closure(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_match, path_closure

    closed = path_closure(kg_triples, "p:knows", out_pred="p:knows+")
    pairs = {(r["subj"], r["obj"]) for r in closed.collect()}
    assert pairs == {("a", "b"), ("b", "c"), ("a", "c"), ("c", "c")}
    assert closed.select("pred").distinct().collect()[0][0] == "p:knows+"

    # the closure composes with bgp_match as a virtual predicate
    out = sorted(tuple(r) for r in bgp_match(
        closed.unionByName(kg_triples),
        [("?x", "p:knows+", "?y"), ("?y", "p:name", "?n")])
        .select("x", "n").collect())
    assert out == [("a", "Bob"), ("a", "Bobby")]


def test_graph_diff(spark):
    from pyrdfa3_spark.operators.graphops import graph_diff

    old = _triples(spark, [("a", "p", "1"), ("a", "p", "2"),
                           ("b", "q", "3")])
    new = _triples(spark, [("a", "p", "1"), ("a", "p", "9"),
                           ("c", "q", "3")])
    out = {(r["op"], r["subj"], r["pred"], r["obj"])
           for r in graph_diff(old, new).collect()}
    assert out == {("added", "a", "p", "9"), ("added", "c", "q", "3"),
                   ("removed", "a", "p", "2"), ("removed", "b", "q", "3")}

    assert graph_diff(old, old).count() == 0


def test_graph_diff_nullsafe_on_full_triple_key(spark):
    """Regression: obj_lang/obj_datatype are NULL for plain literals
    and IRIs; the diff joins must be null-safe on them or every such
    triple diffs as both added and removed against itself."""
    from pyrdfa3_spark.operators.graphops import apply_diff, graph_diff

    schema = ("subj string, pred string, obj string, obj_is_iri "
              "boolean, obj_lang string, obj_datatype string")
    old = spark.createDataFrame(
        [("s", "p", "o", True, None, None),
         ("s", "p", "plain", False, None, None),
         ("s", "p", "hello", False, "en", None)], schema)
    assert graph_diff(old, old).count() == 0

    new = spark.createDataFrame(
        [("s", "p", "o", True, None, None),
         ("s", "p", "hallo", False, "de", None)], schema)
    out = {(r["op"], r["obj"], r["obj_lang"])
           for r in graph_diff(old, new).collect()}
    assert out == {("removed", "plain", None), ("removed", "hello", "en"),
                   ("added", "hallo", "de")}
    replayed = apply_diff(old, graph_diff(old, new))
    assert {tuple(r) for r in replayed.collect()} == \
        {tuple(r) for r in new.collect()}


def test_duplicate_spans_matches_python(spark):
    """Brute-force model: every 3-token window, md5-hashed, counted
    across docs; spans occurring >= 2 times must come back with exact
    occurrence/doc counts and the minimal (doc_id, pos) keep key."""
    import hashlib
    import re
    from collections import defaultdict

    from pyrdfa3_spark.operators.dedup import duplicate_spans

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "THE  quick   Brown fox sleeps",       # normalization collapses
        3: "unique words only here today",
        4: "the quick brown fox jumps again and the quick brown fox",
        5: "   ",                                  # whitespace-only: no rows
    }
    occ = defaultdict(list)
    for did, text in texts.items():
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip()
                .split(" ") if t]
        for i in range(len(toks) - 2):
            h = hashlib.md5(" ".join(toks[i:i + 3]).encode()).hexdigest()
            occ[h].append((did, i + 1))
    expected = {
        h: (len(ps), len({d for d, _ in ps}), *min(ps))
        for h, ps in occ.items() if len(ps) >= 2
    }
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["span_hash"]: (r["n_occurrences"], r["n_docs"],
                            r["keep_doc"], r["keep_pos"])
           for r in duplicate_spans(docs, window=3).collect()}
    assert got == expected
    assert expected  # the fixture genuinely exercises duplicates


def test_clean_corpus_stage_composition(spark):
    """URL losers drop before content dedup, exact dupes drop before
    the span stage, the span cut runs over survivors only, and the
    length floor prunes what the cut hollowed out."""
    from pyrdfa3_spark.operators.curation import clean_corpus

    docs = spark.createDataFrame(
        [(1, "https://www.a.com/x/", "alpha beta gamma delta one two"),
         (2, "http://a.com/x", "totally different text here now ok"),
         (3, "https://b.com/y", "alpha beta gamma delta one two"),
         (4, "https://c.com/z", "alpha beta gamma delta one two"),
         (5, "https://d.com/w", "alpha beta gamma delta xx yy zz qq")],
        ["doc_id", "url", "text"])
    # URL stage: 2 loses to 1 (same page) -> its unique text never
    # competes again.  Exact stage: 1/3/4 identical -> keep 1.
    # Span stage (window 4): doc 5 repeats doc 1's leading run -> cut.
    out = {r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
           for r in clean_corpus(docs, url_col="url", span_window=4,
                                 min_tokens=3).collect()}
    assert set(out) == {1, 5}
    assert out[1] == ("alpha beta gamma delta one two", 6, 0)
    assert out[5] == ("xx yy zz qq", 4, 4)
    # with a higher floor, the hollowed-out doc 5 drops too
    out2 = {r["doc_id"] for r in
            clean_corpus(docs, url_col="url", span_window=4,
                         min_tokens=5).collect()}
    assert out2 == {1}


def test_canonical_url_variants(spark):
    """Scheme/case/www/default-port/trailing-slash/fragment/tracking-
    param/param-order noise all collapses; distinct pages stay
    distinct; path case is preserved (paths are case-sensitive)."""
    from pyrdfa3_spark.operators.curation import canonical_url

    import pyspark.sql.functions as F
    urls = [
        "https://WWW.Example.com/Path/a/?utm_source=f&x=1",
        "http://example.com/Path/a?x=1",
        "https://example.com:443/Path/a?x=1&utm_campaign=z#frag",
        "https://example.com/Path/a?b=2&x=1",   # extra param: distinct
        "https://example.com/path/a?x=1",       # path case: distinct
        "https://example.com:8080/Path/a?x=1",  # non-default port kept
        "https://example.com",                  # bare host
        "https://example.com/?ref=rss",         # only tracking params
        "https://example.com/Path/a?x=1&b=2",   # order-normalized dup of b=2&x=1
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    got = [r[0] for r in
           df.select(canonical_url(F.col("url"))).collect()]
    assert got[0] == got[1] == got[2] == "example.com/Path/a?x=1"
    assert got[3] == "example.com/Path/a?b=2&x=1"
    assert got[8] == got[3]                      # param order collapsed
    assert got[4] == "example.com/path/a?x=1"
    assert got[5] == "example.com:8080/Path/a?x=1"
    assert got[6] == "example.com"
    assert got[7] == "example.com"               # tracking-only query drops


def test_url_dedup_groups(spark):
    from pyrdfa3_spark.operators.curation import url_dedup

    docs = spark.createDataFrame(
        [(1, "https://www.a.com/x/"), (2, "http://a.com/x"),
         (3, "https://a.com/x?utm_source=s"), (4, "https://b.com/y")],
        ["doc_id", "url"])
    rows = url_dedup(docs).collect()
    assert len(rows) == 1
    assert (rows[0]["canonical_url"], rows[0]["n_docs"],
            rows[0]["keep_id"]) == ("a.com/x", 3, 1)


def test_paragraph_dedup_blank_line_default(spark):
    """CCNet-style paragraph removal on the blank-line default:
    the shared footer (case-insensitively normalized) is dropped
    everywhere, unique paragraphs survive in order with original
    case, and an all-boilerplate doc survives with empty text."""
    from pyrdfa3_spark.operators.curation import paragraph_dedup

    footer = "Cookie notice: we use cookies."
    docs = spark.createDataFrame(
        [(1, f"Alpha body one.\n\n{footer}\n\nAlpha body two."),
         (2, f"Beta body.\n\n{footer.upper()}"),
         (3, footer),                     # all boilerplate
         (4, "Gamma only.\n\n\n\nGamma two.")],  # multi-blank delim
        ["doc_id", "text"])
    out = {r["doc_id"]: r for r in paragraph_dedup(docs).collect()}
    assert out[1]["clean_text"] == "Alpha body one.\n\nAlpha body two."
    assert (out[1]["n_paras"], out[1]["n_removed"]) == (3, 1)
    assert out[2]["clean_text"] == "Beta body."
    assert out[3]["clean_text"] == "" and out[3]["n_removed"] == 1
    assert out[4]["clean_text"] == "Gamma only.\n\nGamma two."
    assert out[4]["n_removed"] == 0


def test_elect_keeper_quality_and_ties(spark):
    """Keeper re-election by score: highest score wins, ties break to
    the smallest doc_id, unscored members lose to any scored one, and
    the is_dup flags restamp consistently."""
    from pyrdfa3_spark.operators.dedup import elect_keeper

    decision = spark.createDataFrame(
        [(1, 1, False), (2, 1, True), (3, 1, True),   # cluster 1
         (7, 7, False), (9, 7, True)],                # cluster 7
        ["doc_id", "keep_id", "is_dup"])
    scores = spark.createDataFrame(
        [(1, 10.0), (2, 50.0), (3, 50.0), (9, 1.0)],  # 7 unscored
        ["doc_id", "score"])
    out = {r["doc_id"]: (r["keep_id"], r["is_dup"])
           for r in elect_keeper(decision, scores).collect()}
    assert out == {1: (2, True), 2: (2, False), 3: (2, True),
                   7: (9, True), 9: (9, False)}


def test_remove_duplicate_spans_matches_python(spark):
    """The cut half, cross-checked against a brute-force model: every
    non-first occurrence of a repeated window is masked over
    [pos, pos+window), overlaps union, survivors rejoin in order; the
    corpus-first occurrence keeps its text."""
    import re
    from collections import defaultdict

    from pyrdfa3_spark.operators.dedup import remove_duplicate_spans

    texts = {
        1: "the quick brown fox jumps over the lazy dog",
        2: "intro words the quick brown fox tail",   # repeats doc 1's run
        3: "the quick brown fox",                    # the whole doc repeats
        4: "unique content with no repeats at all",
        5: "   ",                                    # whitespace-only: drops
    }
    W = 4
    tok = {d: [t for t in re.sub(r"\s+", " ", s.lower()).strip()
               .split(" ") if t] for d, s in texts.items()}
    occ = defaultdict(list)
    for d, ts in tok.items():
        for i in range(len(ts) - W + 1):
            occ[" ".join(ts[i:i + W])].append((d, i + 1))
    expected = {}
    cut = defaultdict(set)
    for ps in occ.values():
        if len(ps) >= 2:
            for d, p in sorted(ps)[1:]:
                cut[d].update(range(p, p + W))
    for d, ts in tok.items():
        if not ts:
            continue
        keep = [t for i, t in enumerate(ts, 1) if i not in cut[d]]
        expected[d] = (" ".join(keep), len(keep), len(ts) - len(keep))

    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["doc_id"]: (r["clean_text"], r["n_kept"], r["n_removed"])
           for r in remove_duplicate_spans(docs, window=W).collect()}
    assert got == expected
    assert got[4] == (texts[4], 7, 0)        # untouched doc passes through
    assert got[3] == ("", 0, 4)              # fully-duplicated doc empties
    assert 5 not in got                      # token-less doc contributes no row
    assert any(n > 0 for _t, _k, n in got.values())


def test_duplicate_spans_keeper_survives_huge_doc_ids(spark):
    """doc ids past 2^33 — where the old packed ``doc_id*10^9 + pos``
    key overflowed int64 and silently elected the wrong keeper — must
    still pick the lexicographically-minimal (doc_id, pos)."""
    from pyrdfa3_spark.operators.dedup import duplicate_spans

    big = 1 << 62  # doc_id * 10^9 would overflow int64 by ~5*10^8 x
    docs = spark.createDataFrame(
        [(big + 7, "alpha beta gamma delta"),
         (big + 3, "zzz alpha beta gamma"),
         (5, "prefix alpha beta gamma")],
        "doc_id long, text string")
    rows = duplicate_spans(docs, window=3).collect()
    keep = {r["span_hash"]: (r["keep_doc"], r["keep_pos"], r["n_docs"])
            for r in rows}
    # 'alpha beta gamma' appears in all three docs; the keeper is the
    # smallest doc_id (5) at its 1-based offset 2
    assert (5, 2, 3) in keep.values()
    assert all(d >= 0 for d, _p, _n in keep.values())  # no wraparound


def test_semantic_dedup_drop_list(spark):
    """Hand-built clusters: two groups of near-identical vectors plus a
    singleton.  Every non-minimal member of a near-dup group must be
    dropped with keep_id = the group minimum; the singleton survives."""
    from pyrdfa3_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),     # near-dup of 0
        (2, [0.998, 0.02, 0.0, 0.0]),     # near-dup of 0
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.999, 0.02, 0.0]),     # near-dup of 3
        (5, [0.0, 0.0, 1.0, 0.0]),        # singleton
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0],
             [0.0, 0.0, 1.0, 0.0]]
    out = {r["vec_id"]: r["keep_id"]
           for r in semantic_dedup(emb, cents, threshold=0.95).collect()}
    assert out == {1: 0, 2: 0, 4: 3}

    # vectors straddling cluster boundaries are NOT compared — the
    # approximation SemDeDup accepts by design
    far = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.6, 0.8, 0.0, 0.0])],
        "vec_id long, embedding array<float>")
    assert semantic_dedup(far, cents, threshold=0.1).count() == 0


def test_dsir_weights_matches_python(spark):
    """Independent model: hashed uni+bigram multinomials with Laplace
    smoothing; target-like raw docs must outscore off-domain ones."""
    import hashlib
    import math
    import re
    from collections import Counter

    from pyrdfa3_spark.operators.curation import dsir_weights

    def grams(text):
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip()
                .split(" ") if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def h32(s, mod):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod

    raw = {1: "spark runs big jobs", 2: "cats purr softly at home",
           3: "spark shuffles big data", 4: "dogs bark at cats"}
    target = {10: "spark big data jobs", 11: "spark data shuffles"}
    B = 64
    t_cnt = Counter(h32(g, B) for t in target.values() for g in grams(t))
    r_cnt = Counter(h32(g, B) for t in raw.values() for g in grams(t))
    t_tot, r_tot = sum(t_cnt.values()), sum(r_cnt.values())

    def weight(text):
        c = Counter(h32(g, B) for g in grams(text))
        return round(sum(
            n * (round(math.log(t_cnt.get(b, 0) + 1), 9)
                 - round(math.log(t_tot + B), 9)
                 - round(math.log(r_cnt[b] + 1), 9)
                 + round(math.log(r_tot + B), 9))
            for b, n in c.items()), 4)

    docs = spark.createDataFrame(list(raw.items()), ["doc_id", "text"])
    tgt = spark.createDataFrame(list(target.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r["log_weight"]
           for r in dsir_weights(docs, tgt, n_buckets=B).collect()}
    expected = {d: weight(t) for d, t in raw.items()}
    for d in raw:
        assert got[d] == pytest.approx(expected[d], abs=2e-4), (d, got,
                                                                expected)
    # domain separation: the spark-y raw docs score above the animal ones
    assert min(got[1], got[3]) > max(got[2], got[4])


def test_chunk_documents_reconstructs(spark):
    """Every chunk maps back to its exact source span, and stripping
    the overlap reconstructs the original text; boundary cases: text
    shorter than a chunk, exact multiple, 1-char remainder."""
    from pyrdfa3_spark.operators.textops import chunk_documents

    texts = {1: "x" * 5, 2: "".join(chr(97 + i % 26) for i in range(100)),
             3: "".join(chr(97 + i % 26) for i in range(41)), 4: ""}
    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    out = chunk_documents(docs, chunk_chars=20, overlap=5)
    rows = sorted((r["doc_id"], r["chunk_idx"], r["start"],
                   r["chunk_text"]) for r in out.collect())
    by_doc: dict = {}
    for d, idx, start, chunk in rows:
        assert texts[d][start - 1:start - 1 + 20] == chunk  # exact span
        by_doc.setdefault(d, []).append((idx, start, chunk))
    assert 4 not in by_doc                      # empty doc: no chunks
    assert [i for i, _, _ in by_doc[1]] == [1]  # short doc: one chunk
    for d, chunks in by_doc.items():
        rebuilt = chunks[0][2] + "".join(c[5:] for _, _, c in chunks[1:])
        assert rebuilt == texts[d], d
    # 100 chars, stride 15: ceil((100-20)/15)+1 = 7 chunks
    assert len(by_doc[2]) == 7

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(docs, chunk_chars=10, overlap=10)


def test_bfs_distances_deep_chain_and_convergence(spark, reach_regimes):
    """The same answers, and the same ``max_hops`` raise, in every
    regime of the reachability evaluator."""
    from pyrdfa3_spark.operators.graphops import bfs_distances

    chain = [(f"a{i}", f"a{i + 1}") for i in range(30)]
    e = spark.createDataFrame(chain, ["src", "dst"])
    for regime in reach_regimes():
        out = {r["node"]: r["dist"]
               for r in bfs_distances(e, ["a0"], max_hops=35).collect()}
        assert out == {f"a{i}": i for i in range(31)}, regime

        with pytest.raises(RuntimeError, match="max_hops"):
            bfs_distances(e, ["a0"], max_hops=5)

        # multi-source: first reach wins = minimum distance over sources
        out = {r["node"]: r["dist"] for r in bfs_distances(
            e, ["a0", "a28"], max_hops=35).collect()}
        assert out["a29"] == 1 and out["a30"] == 2 and out["a10"] == 10, \
            regime

        # max_hops exactly reaching the last node must NOT raise
        out = {r["node"]: r["dist"]
               for r in bfs_distances(e, ["a27"], max_hops=3).collect()}
        assert out == {"a27": 0, "a28": 1, "a29": 2, "a30": 3}, regime


def test_lm_perplexity_matches_python(spark):
    """Independent model: hashed-bigram LM with add-alpha smoothing;
    a repeated in-domain sentence must score lower NLL than a one-off
    word-salad document under the self-trained LM."""
    import hashlib
    import math
    import re
    from collections import Counter

    from pyrdfa3_spark.operators.curation import lm_perplexity

    def h32(s, mod):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % mod

    texts = {1: "the cat sat on the mat", 2: "the cat sat on the rug",
             3: "zq vx blorp nnng kwep", 4: "the cat sat on the mat"}
    B, A = 256, 0.5

    def bigrams(text):
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip()
                .split(" ") if t]
        return [(h32(a, B), h32(f"{a}\x1f{b}", B))
                for a, b in zip(toks, toks[1:])]

    ctx = Counter(h for t in texts.values() for h, _ in bigrams(t))
    big = Counter(hb for t in texts.values() for hb in bigrams(t))

    def nll(text):
        bs = bigrams(text)
        s = sum(round(math.log(big[hb] + A), 9)
                - round(math.log(ctx[hb[0]] + A * B), 9) for hb in bs)
        return round(-s / len(bs), 4)

    docs = spark.createDataFrame(list(texts.items()), ["doc_id", "text"])
    got = {r["doc_id"]: r["nll"]
           for r in lm_perplexity(docs, alpha=A,
                                  vocab_buckets=B).collect()}
    for d, t in texts.items():
        assert got[d] == pytest.approx(nll(t), abs=2e-4), (d, got)
    assert got[3] > max(got[1], got[2], got[4])  # word salad ranks worst


def test_repetition_metrics_matches_python(spark):
    import re
    from collections import Counter

    from pyrdfa3_spark.operators.curation import repetition_metrics

    docs = [
        (0, "a b c\na b c\nx y"),              # one duplicate line
        (1, "the the the the"),                # all-dup words + bigrams
        (2, ""),                               # empty: all metrics 0
        (3, "  7 lines \n7 lines\nunique 7 "), # digit-edged lines must
                                               # trim whitespace ONLY
        (4, "one two one two three"),
    ]
    out = {r["doc_id"]: (r["dup_line_frac"], r["dup_word_frac"],
                         r["top_bigram_frac"])
           for r in repetition_metrics(
               spark.createDataFrame(docs, ["doc_id", "text"])).collect()}

    for doc_id, text in docs:
        lines = [l.strip() for l in text.split("\n") if l.strip()]
        words = re.sub(r"\s+", " ", text.lower()).strip().split()
        words = [w for w in words if w]
        bigrams = [f"{a} {b}" for a, b in zip(words, words[1:])]
        exp = (
            round(1 - len(set(lines)) / len(lines), 6) if lines else 0.0,
            round(1 - len(set(words)) / len(words), 6) if words else 0.0,
            round(Counter(bigrams).most_common(1)[0][1] / len(bigrams), 6)
            if bigrams else 0.0,
        )
        assert out[doc_id] == pytest.approx(exp), (doc_id, out[doc_id], exp)


def test_asof_join_semantics(spark):
    import datetime as dt

    from pyrdfa3_spark.operators.joins import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [("u1", T(10), "a"), ("u1", T(20), "b"), ("u1", T(5), "c"),
         ("u2", T(10), "d")],
        ["user", "ts", "tag"])
    right = spark.createDataFrame(
        [("u1", T(8), 1.0), ("u1", T(10), 2.0), ("u1", T(15), 3.0)],
        ["user", "ts", "state"])

    out = {r["tag"]: (r["asof_state"], r["asof_staleness_ms"])
           for r in asof_join(left, right, on="user").collect()}
    assert out["a"] == (2.0, 0)        # equal ts matches (at-or-before)
    assert out["b"] == (3.0, 5000)     # latest preceding
    assert out["c"] == (None, None)    # nothing at-or-before
    assert out["d"] == (None, None)    # key with no right rows

    # tolerance nulls out stale matches but keeps the row
    tol = {r["tag"]: r["asof_state"]
           for r in asof_join(left, right, on="user",
                              tolerance_ms=3000).collect()}
    assert tol == {"a": 2.0, "b": None, "c": None, "d": None}


def test_asof_join_plan_single_shuffle(spark):
    import datetime as dt

    from pyrdfa3_spark.operators.joins import asof_join

    T = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame([("u1", T(10), 1)], ["k", "ts", "x"])
    right = spark.createDataFrame([("u1", T(8), 2.0)], ["k", "ts", "v"])
    plan = asof_join(left, right, on="k") \
        ._jdf.queryExecution().executedPlan().toString()
    # union+window: exactly one exchange partitions the union on the
    # key; no join operator (and certainly no cartesian/range join)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


def test_bgp_minus(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_minus

    # people with a name but no outgoing knows edge: none (a and b both
    # know someone); people with a name not known BY anyone: a
    out = sorted(r["x"] for r in bgp_minus(
        kg_triples, [("?x", "p:name", "?n")],
        minus=[("?y", "p:knows", "?x")]).select("x").distinct().collect())
    assert out == ["a"]

    with pytest.raises(ValueError, match="shares no variable"):
        bgp_minus(kg_triples, [("?x", "p:name", "?n")],
                  minus=[("?q", "p:knows", "?z")])


def test_bgp_exists_and_not_exists(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_exists

    # EXISTS: named nodes that know someone (a, b — not c, unnamed)
    out = sorted(r["x"] for r in bgp_exists(
        kg_triples, [("?x", "p:name", "?n")],
        exists=[("?x", "p:knows", "?y")]).select("x").distinct().collect())
    assert out == ["a", "b"]

    # NOT EXISTS on shared vars: named nodes known by nobody
    out = sorted(r["x"] for r in bgp_exists(
        kg_triples, [("?x", "p:name", "?n")],
        exists=[("?y", "p:knows", "?x")],
        negate=True).select("x").distinct().collect())
    assert out == ["a"]


def test_bgp_exists_disjoint_group_spec_divergence(spark, kg_triples):
    """Where SPARQL spec §8.3.3 splits MINUS from NOT EXISTS: a group
    sharing no variable with the base is a corpus-level boolean for
    EXISTS/NOT EXISTS (keep-all or drop-all), while MINUS removes
    nothing (and bgp_minus refuses it)."""
    from pyrdfa3_spark.operators.graphops import bgp_exists

    base = [("?x", "p:name", "?n")]
    n_base = 3
    # disjoint group that matches: EXISTS keeps all, NOT EXISTS drops all
    grp = [("?q", "p:knows", "?z")]
    assert bgp_exists(kg_triples, base, exists=grp).count() == n_base
    assert bgp_exists(kg_triples, base, exists=grp,
                      negate=True).count() == 0
    # disjoint group that never matches: the reverse
    grp = [("?q", "p:absent", "?z")]
    assert bgp_exists(kg_triples, base, exists=grp).count() == 0
    assert bgp_exists(kg_triples, base, exists=grp,
                      negate=True).count() == n_base


def test_bind_and_having(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import (
        bgp_match, bind, solution_agg,
    )

    sols = bgp_match(kg_triples, [("?x", "p:name", "?n")])
    sols = bind(sols, "n_len", "length(n)")
    assert {(r["n"], r["n_len"]) for r in sols.collect()} == {
        ("Ada", 3), ("Bob", 3), ("Bobby", 5)}

    with pytest.raises(ValueError, match="already bound"):
        bind(sols, "n", "upper(n)")

    out = solution_agg(sols, ["x"],
                       {"total": ("sum", "n_len"),
                        "names": ("count", "*")},
                       having="total > 3")
    assert [tuple(r) for r in out.collect()] == [("b", 8, 2)]


def test_construct_templates_and_null_skip(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import construct

    out = {tuple(r) for r in construct(
        kg_triples,
        [("?x", "p:knows", "?y")],
        template=[("?x", "p:reaches", "?y"),
                  ("?y", "p:label", "?n")],
        optional=[("?y", "p:name", "?n")]).collect()}
    # c has no p:name: the ?n template row is skipped for (b,c),(c,c)
    assert out == {
        ("a", "p:reaches", "b"), ("b", "p:reaches", "c"),
        ("c", "p:reaches", "c"),
        ("b", "p:label", "Bob"), ("b", "p:label", "Bobby"),
    }


def test_apply_diff_roundtrip_and_idempotence(spark):
    from pyrdfa3_spark.operators.graphops import apply_diff, graph_diff

    old = _triples(spark, [("a", "p", "1"), ("a", "p", "2"),
                           ("b", "q", "3")])
    new = _triples(spark, [("a", "p", "1"), ("a", "p", "9"),
                           ("c", "q", "3")])
    diff = graph_diff(old, new)
    replayed = apply_diff(old, diff)
    assert {tuple(r) for r in replayed.collect()} == \
        {tuple(r) for r in new.collect()}
    # at-least-once safety: replaying the same diff again is a no-op
    twice = apply_diff(replayed, diff)
    assert {tuple(r) for r in twice.collect()} == \
        {tuple(r) for r in new.collect()}


def test_path_seq_alt_inverse(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import (
        path_alt, path_inverse, path_seq,
    )

    seq = {(r["subj"], r["obj"]) for r in path_seq(
        kg_triples, ["p:knows", "p:name"], "kn").collect()}
    assert seq == {("a", "Bob"), ("a", "Bobby")}  # a -knows-> b -name->

    alt = path_alt(kg_triples, ["p:name", "p:type"], "meta")
    assert alt.select("pred").distinct().collect()[0][0] == "meta"
    assert alt.count() == 5

    inv = {(r["subj"], r["obj"]) for r in path_inverse(
        kg_triples, "p:knows", "knownBy").collect()}
    assert inv == {("b", "a"), ("c", "b"), ("c", "c")}

    with pytest.raises(ValueError, match="at least one predicate"):
        path_seq(kg_triples, [], "x")


def test_asof_join_fuzz_vs_python(spark):
    """Randomized as-of join instances checked against a brute-force
    python model (latest right row with ts <= left ts per key)."""
    import datetime as dt
    import random

    from pyrdfa3_spark.operators.joins import asof_join

    rng = random.Random(20260817)
    base = dt.datetime(2024, 1, 1)
    for trial in range(5):
        keys = ["k0", "k1", "k2"]
        left = [(rng.choice(keys), base + dt.timedelta(seconds=rng.randint(0, 120)), i)
                for i in range(40)]
        # unique (key, ts) on the right: the operator's documented
        # deterministic regime
        right_keys = rng.sample(
            [(k, s) for k in keys for s in range(0, 121, 3)], 30)
        right = [(k, base + dt.timedelta(seconds=s), float(i))
                 for i, (k, s) in enumerate(right_keys)]

        out = {r["lid"]: (r["asof_v"], r["asof_staleness_ms"])
               for r in asof_join(
                   spark.createDataFrame(left, ["k", "ts", "lid"]),
                   spark.createDataFrame(right, ["k", "ts", "v"]),
                   on="k").collect()}

        for k, ts, lid in left:
            cand = [(rts, v) for (rk, rts, v) in right
                    if rk == k and rts <= ts]
            if cand:
                rts, v = max(cand)
                exp = (v, int((ts - rts).total_seconds() * 1000))
            else:
                exp = (None, None)
            assert out[lid] == exp, (trial, k, ts, lid, out[lid], exp)


# ------------------------------------------------------------------ #
# SPARQL surface round-out: GRAPH, VALUES, path extras, modifiers,
# aggregates, PageRank
# ------------------------------------------------------------------ #

def test_bgp_match_quads_graph_clause(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import bgp_match_quads
    from pyspark.sql import functions as F

    quads = kg_triples.withColumn(
        "graph", F.when(F.col("subj") == "a", "urn:g:1")
        .otherwise("urn:g:2"))
    # constant graph: GRAPH <urn:g:1> { ?x p:name ?n }
    out = sorted(tuple(r) for r in bgp_match_quads(
        quads, [("?x", "p:name", "?n", "urn:g:1")]).collect())
    assert out == [("a", "Ada")]
    # variable graph binds provenance into the solution
    out = sorted(tuple(r) for r in bgp_match_quads(
        quads, [("?x", "p:name", "?n", "?g")]).collect())
    assert ("a", "Ada", "urn:g:1") in out
    assert ("b", "Bob", "urn:g:2") in out
    # graph variable shared across patterns scopes the join per-graph
    out = bgp_match_quads(quads, [
        ("?x", "p:knows", "?y", "?g"),
        ("?x", "p:name", "?n", "?g"),
    ]).collect()
    assert {(r["x"], r["g"]) for r in out} == {("a", "urn:g:1"),
                                              ("b", "urn:g:2")}


def test_bgp_values_constrains_and_extends(spark, kg_triples):
    import pytest

    from pyrdfa3_spark.operators.graphops import bgp_values

    # plain IN-style constraint
    out = {(r["x"], r["n"]) for r in bgp_values(
        kg_triples, [("?x", "p:name", "?n")],
        ["x"], [("a",), ("c",)]).collect()}
    assert out == {("a", "Ada")}
    # UNDEF rows constrain only their defined columns
    out = {(r["x"], r["n"]) for r in bgp_values(
        kg_triples, [("?x", "p:name", "?n")],
        ["x", "n"], [("a", None), (None, "Bobby")]).collect()}
    assert out == {("a", "Ada"), ("b", "Bobby")}
    # extra (non-pattern) variables extend solutions; two rows with the
    # same key multiply per SPARQL bag semantics
    out = sorted((r["x"], r["n"], r["tag"]) for r in bgp_values(
        kg_triples, [("?x", "p:name", "?n")],
        ["x", "tag"], [("a", "t1"), ("a", "t2")]).collect())
    assert out == [("a", "Ada", "t1"), ("a", "Ada", "t2")]
    # all-UNDEF row keeps everything
    assert bgp_values(
        kg_triples, [("?x", "p:name", "?n")],
        ["x"], [(None,)]).count() == 3
    with pytest.raises(ValueError):
        bgp_values(kg_triples, [("?x", "p:name", "?n")],
                   ["zzz"], [("v",)])


def test_values_adopts_optional_unbound_binding(spark):
    """A VALUES variable only an OPTIONAL binds joins under §18.5
    compatibility: an unmatched OPTIONAL leaves it unbound, and the
    unbound cell adopts the row's value.  bgp_values and sparql() give
    the same answer, and a filter on the variable sees the adopted
    value."""
    from pyrdfa3_spark.operators.graphops import bgp_values
    from pyrdfa3_spark.operators.sparql import sparql

    t = spark.createDataFrame(
        [("a", "p:name", "x"), ("b", "p:name", "y"), ("b", "p:mail", "w")],
        ["subj", "pred", "obj"])
    want = [("a", "x", "z")]
    for filters in (None, ["m = 'z'"]):
        got = bgp_values(t, [("?s", "p:name", "?n")], ["m"], [("z",)],
                         optional=[("?s", "p:mail", "?m")],
                         filters=filters)
        assert sorted(tuple(r) for r in got.select("s", "n", "m")
                      .collect()) == want, filters
    q = ("SELECT ?s ?n ?m WHERE { ?s <p:name> ?n "
         "OPTIONAL { ?s <p:mail> ?m } VALUES ?m { \"z\" } }")
    assert sorted(tuple(r) for r in sparql(t, q).collect()) == want


def test_path_negated_zero_or_one_zero_or_more(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import (
        graph_terms, path_negated, path_zero_or_more, path_zero_or_one,
    )

    neg = {(r["subj"], r["obj"]) for r in path_negated(
        kg_triples, ["p:knows", "p:type"], "v:other").collect()}
    assert neg == {("a", "Ada"), ("b", "Bob"), ("b", "Bobby")}

    terms = {r["node"] for r in graph_terms(kg_triples).collect()}
    assert {"a", "b", "c", "Ada", "Person"} <= terms

    zo = {(r["subj"], r["obj"]) for r in path_zero_or_one(
        kg_triples, "p:knows", "v:k").collect()}
    assert ("a", "b") in zo and ("b", "c") in zo
    assert all((t, t) in zo for t in terms)      # zero-length pairs
    assert ("a", "c") not in zo                  # no 2-hop in p?

    star = {(r["subj"], r["obj"]) for r in path_zero_or_more(
        kg_triples, "p:knows").collect()}
    assert ("a", "c") in star                    # 2-hop via closure
    assert all((t, t) in star for t in terms)
    assert ("Ada", "b") not in star


def test_select_solutions_modifiers(spark, kg_triples):
    import pytest

    from pyrdfa3_spark.operators.graphops import bgp_match, select_solutions

    sols = bgp_match(kg_triples, [("?x", "p:name", "?n")])
    top = select_solutions(sols, order_by=["-n"], limit=2)
    assert [r["n"] for r in top.collect()] == ["Bobby", "Bob"]
    rest = select_solutions(sols, order_by=["n"], limit=5, offset=1,
                            project=["n"])
    assert [r["n"] for r in rest.collect()] == ["Bob", "Bobby"]
    dd = select_solutions(sols.select("x"), distinct=True)
    assert dd.count() == 2
    with pytest.raises(ValueError):
        select_solutions(sols, offset=1)


def test_solution_agg_sparql_aggregates(spark, kg_triples):
    import pytest

    from pyrdfa3_spark.operators.graphops import bgp_match, solution_agg

    sols = bgp_match(kg_triples, [("?x", "p:name", "?n")])
    out = {r["x"]: r for r in solution_agg(sols, ["x"], {
        "n_names": ("count", "*"),
        "uniq": ("count_distinct", "n"),
        "first": ("sample", "n"),
        "all_names": ("group_concat", "n", "|"),
    }).collect()}
    assert out["b"]["n_names"] == 2 and out["b"]["uniq"] == 2
    assert out["b"]["first"] == "Bob"
    assert out["b"]["all_names"] == "Bob|Bobby"
    assert out["a"]["all_names"] == "Ada"
    with pytest.raises(ValueError):
        solution_agg(sols, ["x"], {"z": ("median", "n")})


def test_pagerank_matches_python(spark):
    from pyrdfa3_spark.operators.graphops import pagerank

    # deterministic small graph incl. a dangling node (d) and a cycle
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")]
    out = {r["node"]: r["rank"] for r in pagerank(
        spark.createDataFrame(edges, ["src", "dst"]),
        iterations=15).collect()}

    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(15):
        dm = sum(r for v, r in ranks.items() if v not in outdeg)
        contrib = {v: 0.0 for v in nodes}
        for s, t in edges:
            contrib[t] += ranks[s] / outdeg[s]
        ranks = {v: 0.15 / n + 0.85 * (contrib[v] + dm / n)
                 for v in nodes}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(out[v] - ranks[v]) < 1e-9, (v, out[v], ranks[v])


def test_disambiguate_prior_and_ties(spark):
    """Candidate fan-out over an ambiguous alias table; the prior
    picks the winner, smallest entity_id breaks exact score ties,
    missing priors default to 1."""
    from pyrdfa3_spark.operators.entity_link import disambiguate

    mentions = spark.createDataFrame(
        [(1, "Paris"), (1, "sol"), (2, "PARIS "), (2, "unknown")],
        ["doc_id", "mention"])
    aliases = spark.createDataFrame(
        [("paris", 10), ("paris", 20),     # ambiguous city/person
         ("sol", 30), ("sol", 31),         # tie (equal priors)
         ("unknown", 40)],
        ["alias", "entity_id"])
    priors = spark.createDataFrame(
        [(10, 7), (20, 99), (30, 5), (31, 5)],  # 40 missing -> 1
        ["entity_id", "prior"])
    out = {(r["doc_id"], r["mention"]): (r["entity_id"], r["score"])
           for r in disambiguate(mentions, aliases, priors).collect()}
    assert out[(1, "paris")] == (20, 99)   # prior wins
    assert out[(2, "paris")] == (20, 99)   # normalization matched
    assert out[(1, "sol")] == (30, 5)      # tie -> smaller entity_id
    assert out[(2, "unknown")] == (40, 1)  # absent prior defaults


def test_disambiguate_context_overlap(spark):
    """With entity profiles and a mention context, the score becomes
    prior * (1 + |context ∩ profile|) — cross-checked against a pure
    python scorer."""
    from pyrdfa3_spark.operators.entity_link import disambiguate

    mentions = spark.createDataFrame(
        [(1, "jaguar", ["engine", "speed", "car"]),
         (2, "jaguar", ["jungle", "prey"])],
        ["doc_id", "mention", "context"])
    aliases = spark.createDataFrame(
        [("jaguar", 1), ("jaguar", 2)], ["alias", "entity_id"])
    priors = spark.createDataFrame(
        [(1, 4), (2, 3)], ["entity_id", "prior"])   # 1 = car, 2 = cat
    profiles = spark.createDataFrame(
        [(1, ["car", "engine", "brand"]), (2, ["cat", "jungle", "prey"])],
        ["entity_id", "tokens"])
    out = {(r["doc_id"], r["mention"]): (r["entity_id"], r["score"])
           for r in disambiguate(mentions, aliases, priors,
                                 profiles).collect()}

    # python cross-check of the integer scoring
    prior = {1: 4, 2: 3}
    prof = {1: {"car", "engine", "brand"}, 2: {"cat", "jungle", "prey"}}
    ctx = {1: {"engine", "speed", "car"}, 2: {"jungle", "prey"}}
    for doc in (1, 2):
        scores = {e: prior[e] * (1 + len(ctx[doc] & prof[e]))
                  for e in (1, 2)}
        best = min(sorted(scores), key=lambda e: (-scores[e], e))
        assert out[(doc, "jaguar")] == (best, scores[best]), (doc, out)
    assert out[(1, "jaguar")][0] == 1      # car context -> car entity
    assert out[(2, "jaguar")][0] == 2      # jungle context -> the cat


def test_ask_short_circuit_and_false(spark, kg_triples):
    from pyrdfa3_spark.operators.graphops import ask

    assert ask(kg_triples, [("?x", "p:knows", "?y")]) \
        .collect()[0]["result"] is True
    assert ask(kg_triples, [("?x", "p:hates", "?y")]) \
        .collect()[0]["result"] is False
    # joined group with no solution
    assert ask(kg_triples, [("?x", "p:knows", "?y"),
                            ("?y", "p:name", "Zed")]) \
        .collect()[0]["result"] is False


def test_describe_cbd_bnode_recursion(spark):
    import pytest

    from pyrdfa3_spark.operators.graphops import describe

    rows = [
        ("e1", "p:name", "One"),
        ("e1", "p:addr", "_:a1"),
        ("_:a1", "p:city", "X"),
        ("_:a1", "p:geo", "_:g1"),
        ("_:g1", "p:lat", "1.0"),
        ("e2", "p:name", "Two"),          # not requested
        ("_:a9", "p:city", "Y"),          # unreachable bnode
    ]
    g = spark.createDataFrame(rows, ["subj", "pred", "obj"])
    out = {tuple(r) for r in describe(g, ["e1"]).collect()}
    assert out == {("e1", "p:name", "One"), ("e1", "p:addr", "_:a1"),
                   ("_:a1", "p:city", "X"), ("_:a1", "p:geo", "_:g1"),
                   ("_:g1", "p:lat", "1.0")}
    # depth guard raises instead of silently truncating
    chain = [("e1", "p:next", "_:b0")] + [
        (f"_:b{i}", "p:next", f"_:b{i + 1}") for i in range(5)]
    gg = spark.createDataFrame(chain, ["subj", "pred", "obj"])
    with pytest.raises(RuntimeError):
        describe(gg, ["e1"], max_hops=3)
    assert describe(gg, ["e1"], max_hops=10).count() == 6


def test_skolemize_deskolemize_roundtrip(spark):
    from pyrdfa3_spark.operators.graphops import deskolemize, skolemize

    rows = [
        ("_:b0", "p:knows", "http://ex.org/a", True, None, None),
        ("http://ex.org/a", "p:knows", "_:b0", True, None, None),
        ("http://ex.org/a", "p:name", "plain", False, "en", None),
    ]
    cols = "subj string, pred string, obj string, obj_is_iri boolean, " \
           "obj_lang string, obj_datatype string"
    g = spark.createDataFrame(rows, cols)
    sk = skolemize(g).collect()
    pre = "http://transcript.local/.well-known/genid/"
    assert sk[0]["subj"] == pre + "b0"
    # obj_is_iri is invariant: it means reference-not-literal, which
    # covers bnodes and their skolem IRIs alike
    assert sk[1]["obj"] == pre + "b0" and sk[1]["obj_is_iri"] is True
    assert sk[2]["obj"] == "plain"
    back = deskolemize(skolemize(g))
    assert sorted(map(tuple, back.collect())) == sorted(rows)


def test_subtract_intersect_null_safe_on_literal_shape(spark):
    """Regression: plain literals carry NULL obj_lang/obj_datatype, and
    an equality join on the triple key would never match them —
    subtraction must still remove and intersection must still keep
    NULL-shaped rows."""
    from pyrdfa3_spark.operators.graphops import (
        intersect_graphs, subtract_graph,
    )

    cols = "subj string, pred string, obj string, obj_is_iri boolean, " \
           "obj_lang string, obj_datatype string"
    a = spark.createDataFrame(
        [("s", "p", "lit", False, None, None),
         ("s", "p", "lit", False, "en", None),
         ("s", "p", "o2", True, None, None)], cols)
    b = spark.createDataFrame(
        [("s", "p", "lit", False, None, None)], cols)
    assert sorted((r["obj"], r["obj_lang"]) for r in
                  subtract_graph(a, b).collect()) \
        == [("lit", "en"), ("o2", None)]
    assert [(r["obj"], r["obj_lang"]) for r in
            intersect_graphs(a, b).collect()] == [("lit", None)]


def test_bm25_matches_python(spark):
    import math
    import re

    from pyrdfa3_spark.operators.textops import bm25_score

    docs = [
        (0, "spark window spark table"),
        (1, "vector vector vector"),
        (2, "nothing relevant here at all"),
        (3, ""),
        (4, "spark"),
    ]
    out = {r["doc_id"]: r["score"] for r in bm25_score(
        spark.createDataFrame(docs, ["doc_id", "text"]),
        ["spark", "window", "vector"]).collect()}

    toks = {i: [w for w in re.split(r"[^a-z0-9]+", t.lower()) if w]
            for i, t in docs}
    n = len(docs)
    avgdl = sum(len(v) for v in toks.values()) / n
    for i, _ in docs:
        score = 0.0
        for term in ["spark", "window", "vector"]:
            tf = toks[i].count(term)
            df = sum(1 for v in toks.values() if term in v)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            score += idf * tf * 2.2 / (
                tf + 1.2 * (1 - 0.75 + 0.75 * len(toks[i]) / avgdl))
        assert abs(out[i] - round(score, 6)) < 2e-6, (i, out[i], score)
    assert out[3] == 0.0 and out[2] == 0.0


def test_shacl_validate_constraints(spark):
    from pyrdfa3_spark.functions.constants import RDF_TYPE
    from pyrdfa3_spark.operators.shacl import conforms, shacl_validate

    t = spark.createDataFrame([
        ("e1", RDF_TYPE, "C"), ("e2", RDF_TYPE, "C"),
        ("e3", RDF_TYPE, "C"),
        ("e1", "p:name", "Ada"),
        ("e2", "p:name", "bob"),            # pattern violation
        ("e2", "p:name", "Bob"),            # -> maxCount violation too
        # e3 has no name -> minCount violation
        ("e1", "p:home", "http://x.example/"),
        ("e3", "p:home", "not a url"),      # nodeKind iri violation
        ("e1", "p:ref", "n1"), ("e2", "p:ref", "n2"),  # n2 untyped
        ("n1", RDF_TYPE, "N"),
        ("e1", "p:status", "ok"), ("e2", "p:status", "weird"),  # in
        ("zz", "p:name", "ignored"),        # not a focus node
    ], ["subj", "pred", "obj"])
    shape = {"name": "S", "target_class": "C", "properties": [
        {"path": "p:name", "min_count": 1, "max_count": 1,
         "pattern": "^[A-Z]"},
        {"path": "p:home", "node_kind": "iri"},
        {"path": "p:ref", "class": "N"},
        {"path": "p:status", "in": ["ok", "fine"]},
    ]}
    got = {(r["focus"], r["path"], r["constraint"], r["value"])
           for r in shacl_validate(t, [shape]).collect()}
    assert got == {
        ("e3", "p:name", "minCount", None),
        ("e2", "p:name", "maxCount", None),
        ("e2", "p:name", "pattern", "bob"),
        ("e3", "p:home", "nodeKind", "not a url"),
        ("e2", "p:ref", "class", "n2"),
        ("e2", "p:status", "in", "weird"),
    }
    assert not conforms(t, [shape])

    clean = t.filter(F.col("subj") == "e1") \
        .unionByName(t.filter(F.col("subj") == "n1"))
    assert conforms(clean, [shape])
    assert shacl_validate(t, []).count() == 0

    with pytest.raises(ValueError, match="node_kind"):
        shacl_validate(t, [{"name": "S", "target_class": "C",
                            "properties": [{"path": "p:home",
                                            "node_kind": "uri"}]}]) \
            .collect()


def test_shacl_prefers_obj_is_iri_bit(spark):
    """When the triple store carries the extraction pipeline's exact
    obj_is_iri bit, nodeKind must trust it over the scheme-regex
    heuristic ('mailto:x' literal vs IRI is indistinguishable by
    shape)."""
    from pyrdfa3_spark.functions.constants import RDF_TYPE
    from pyrdfa3_spark.operators.shacl import shacl_validate

    t = spark.createDataFrame([
        ("e1", RDF_TYPE, "C", True),
        ("e1", "p:home", "mailto:a@b.c", False),   # literal despite scheme
        ("e1", "p:link", "urn:x", True),
    ], ["subj", "pred", "obj", "obj_is_iri"])
    shape = {"name": "S", "target_class": "C", "properties": [
        {"path": "p:home", "node_kind": "iri"},
        {"path": "p:link", "node_kind": "iri"},
    ]}
    got = {(r["path"], r["value"])
           for r in shacl_validate(t, [shape]).collect()}
    assert got == {("p:home", "mailto:a@b.c")}


def test_triangle_count_vs_bruteforce(spark):
    from itertools import combinations

    from pyrdfa3_spark.operators.graphops import triangle_count, triangles

    # deterministic pseudo-random graph incl. a hub (node h connects to
    # everyone) to exercise the degree-ordered orientation
    nodes = [f"v{i}" for i in range(12)]
    edges = [(nodes[i], nodes[(i * i + 1) % 12]) for i in range(12)]
    edges += [(nodes[i], nodes[(i * 5 + 2) % 12]) for i in range(12)]
    edges += [("h", n) for n in nodes]
    edges += [("v3", "v3"), (nodes[1], nodes[0])]  # self-loop + reversed dup

    adj = set()
    for s, d in edges:
        if s != d:
            adj.add((min(s, d), max(s, d)))
    verts = sorted({x for e in adj for x in e})
    expect = [frozenset(t) for t in combinations(verts, 3)
              if all((min(p), max(p)) in adj
                     for p in combinations(t, 2))]
    assert len(expect) >= 5              # non-trivial census

    e = spark.createDataFrame(edges, ["src", "dst"])
    got = [frozenset(r) for r in triangles(e).collect()]
    assert sorted(map(sorted, got)) == sorted(map(sorted, expect))

    assert triangle_count(e).collect()[0]["n_triangles"] == len(expect)

    per_v = {r["node"]: r["n_tri"]
             for r in triangle_count(e, per_vertex=True).collect()}
    brute = {}
    for t in expect:
        for v in t:
            brute[v] = brute.get(v, 0) + 1
    assert per_v == brute


def test_conversation_stats_integrity_flags(spark):
    """Duplicate turn_idx rows and index gaps are flagged exactly;
    single-turn conversations report zero duration."""
    from datetime import datetime, timezone

    from pyrdfa3_spark.operators.transcripts import conversation_stats

    def t(s):
        return datetime.fromtimestamp(s, tz=timezone.utc)

    rows = [
        # healthy 3-turn conversation
        ("a", 0, "user", "hi", "", t(0)),
        ("a", 1, "assistant", "yo", "browser", t(10)),
        ("a", 2, "user", "bye", "", t(25)),
        # duplicate turn 1 + gap (no turn 2)
        ("b", 0, "user", "x", "", t(100)),
        ("b", 1, "assistant", "y", "", t(110)),
        ("b", 1, "assistant", "y2", "", t(111)),
        ("b", 3, "user", "z", "", t(120)),
        # single turn
        ("c", 0, "user", "solo", "", t(7)),
    ]
    tr = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out = {r.conv_id: r for r in conversation_stats(tr).collect()}
    a, b, c = out["a"], out["b"], out["c"]
    assert (a.n_turns, a.n_tool_turns, a.n_roles) == (3, 1, 2)
    assert (a.n_dup_turns, a.has_gaps, a.duration_ms) == (0, False, 25000)
    assert (b.n_turns, b.n_dup_turns, b.has_gaps) == (4, 1, True)
    assert (c.n_turns, c.duration_ms, c.has_gaps) == (1, 0, False)


def test_stitch_and_latency_stable_order(spark):
    """Stitching follows turn_idx regardless of row order; latency
    deltas are computed over the sorted sequence (never row order);
    single-turn conversations yield NULL mean."""
    from datetime import datetime, timezone

    from pyrdfa3_spark.operators.transcripts import (
        stitch_conversations, turn_latency,
    )

    def t(s):
        return datetime.fromtimestamp(s, tz=timezone.utc)

    rows = [  # deliberately shuffled row order
        ("a", 2, "user", "third", "", t(60)),
        ("a", 0, "user", "first", "", t(0)),
        ("a", 1, "assistant", "second", "", t(10)),
        ("c", 0, "user", "solo", "", t(7)),
    ]
    tr = spark.createDataFrame(
        rows, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    ).repartition(4)
    st = {r.conv_id: r for r in stitch_conversations(tr).collect()}
    assert st["a"].doc_text == \
        "user: first\nassistant: second\nuser: third"
    assert st["a"].n_turns == 3 and st["c"].doc_text == "user: solo"
    plain = {r.conv_id: r.doc_text
             for r in stitch_conversations(tr, sep=" | ",
                                           with_roles=False).collect()}
    assert plain["a"] == "first | second | third"

    lat = {r.conv_id: r for r in turn_latency(tr).collect()}
    assert (lat["a"].n_gaps, lat["a"].mean_gap_ms,
            lat["a"].max_gap_ms) == (2, 30000.0, 50000)
    assert (lat["c"].n_gaps, lat["c"].mean_gap_ms,
            lat["c"].max_gap_ms) == (0, None, None)


def test_compaction_plan_matches_python(spark):
    """Bins follow the path-ordered byte prefix sum exactly; results
    are invariant to input partitioning."""
    from pyrdfa3_spark.plans.maintenance import compaction_plan

    sizes = [300, 300, 300, 250, 900, 100, 100, 2500, 50]
    rows = [(f"f{i:03d}", s) for i, s in enumerate(sizes)]
    files = spark.createDataFrame(rows, ["path", "bytes"]).repartition(5)
    got = {r.path: (r.start_byte, r.bin)
           for r in compaction_plan(files, target_bytes=1000).collect()}
    start = 0
    for p, s in rows:
        assert got[p] == (start, start // 1000), (p, got[p])
        start += s


def test_classifier_score_matches_python(spark):
    """Independent model: hashed uni+bigram bag dotted with the weight
    table + bias through a sigmoid — including the empty-document path
    (score = sigmoid(bias))."""
    import hashlib
    import math
    import re
    from collections import Counter

    from pyrdfa3_spark.operators.curation import classifier_score

    B, BIAS = 64, -0.25

    def grams(text):
        toks = [t for t in re.sub(r"\s+", " ", text.lower()).strip()
                .split(" ") if t]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def h32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16) % B

    def w(b):
        return ((b * 7) % 13 - 6) / 10.0

    def score(text):
        c = Counter(h32(g) for g in grams(text))
        logit = round(BIAS + sum(n * w(b) for b, n in c.items()), 9)
        return round(1.0 / (1.0 + math.exp(-logit)), 4)

    docs = {1: "spark runs big jobs", 2: "cats purr softly",
            3: "spark spark spark", 4: "   "}
    df = spark.createDataFrame(list(docs.items()), ["doc_id", "text"])
    weights = spark.createDataFrame(
        [(b, w(b)) for b in range(B)], "b bigint, weight double")
    got = {r["doc_id"]: r["score"]
           for r in classifier_score(df, weights, bias=BIAS,
                                     n_buckets=B).collect()}
    want = {i: score(t) for i, t in docs.items()}
    want[4] = round(1.0 / (1.0 + math.exp(-BIAS)), 4)  # featureless
    assert got == want


def test_checkpoint_crash_before_manifest_is_idempotent(spark, tmp_path):
    """The crash window between a bucket's parquet write and its
    manifest write: the resumed run must reprocess that bucket (the
    manifest is the ONLY completion signal) and the atomic overwrite
    must leave identical output — no dup rows, no partial state."""
    import os

    from pyrdfa3_spark.sources.transcripts import synth_transcripts
    from pyrdfa3_spark.streaming.checkpoint import run_bucketed

    t = synth_transcripts(spark, n_conv=10, turns_per_conv=10,
                          skew_factor=2)
    out = str(tmp_path / "ckpt")
    run_bucketed(t, out, n_buckets=2)
    before = sorted(map(tuple, spark.read.parquet(
        os.path.join(out, "conv_bucket=1")).collect()))
    # simulate the crash: output exists, manifest lost
    os.remove(os.path.join(out, "_lineage", "bucket-1.json"))
    m = run_bucketed(t, out, n_buckets=2)
    assert m["processed_buckets"] == [1]
    assert m["skipped_buckets"] == [0]
    after = sorted(map(tuple, spark.read.parquet(
        os.path.join(out, "conv_bucket=1")).collect()))
    assert after == before


def test_normalize_text_folds_and_collapses(spark):
    from pyrdfa3_spark.operators.curation import normalize_text

    docs = spark.createDataFrame(
        [(1, "  Élan\tVITAL\n\nœuvre  señor Ølaf  "),
         (2, "plain ascii")], ["doc_id", "text"])
    out = {r["doc_id"]: r["norm_text"]
           for r in normalize_text(docs).collect()}
    # œ is a ligature, not a composed accent — documented out of the
    # char-for-char table's scope
    assert out[1] == "elan vital œuvre senor olaf"
    assert out[2] == "plain ascii"
    # knobs off = passthrough
    raw = {r["doc_id"]: r["norm_text"]
           for r in normalize_text(docs, lowercase=False,
                                   accent_fold=False,
                                   collapse_ws=False).collect()}
    assert raw[1] == "  Élan\tVITAL\n\nœuvre  señor Ølaf  "


def test_interval_join_semantics_plan_and_guard(spark):
    """Point-in-interval join: inclusive start / exclusive end, key
    matching, an equi-join plan (no nested loop / cartesian), and the
    fan-out guard raising on an interval wider than the bucket cap."""
    import contextlib
    import io

    import pytest

    from pyrdfa3_spark.operators.joins import interval_join

    pts = spark.createDataFrame(
        [(1, "k", "2024-01-01 00:00:00"),
         (2, "k", "2024-01-01 01:30:00"),
         (3, "k", "2024-01-01 02:00:00"),     # end-exclusive: out
         (4, "other", "2024-01-01 01:00:00")],  # key mismatch: out
        ["pid", "key", "ts"])
    iv = spark.createDataFrame(
        [(10, "k", "2024-01-01 00:00:00", "2024-01-01 02:00:00")],
        ["iid", "key", "start", "end"])
    out = interval_join(pts, iv, on="key")
    assert sorted((r["pid"], r["iid"]) for r in out.collect()) == [
        (1, 10), (2, 10)]

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoop" not in plan
    assert "Cartesian" not in plan

    big = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "2030-01-01 00:00:00")],
        ["iid", "start", "end"])
    with pytest.raises(Exception, match="interval_join"):
        interval_join(pts.drop("key"), big,
                      max_buckets_per_interval=10).count()


def test_prefix_similarity_join_exact_plan_and_guard(spark):
    """Prefix-filter similarity join: output equals the brute-force
    all-pairs Jaccard ground truth (the prefix filter may not lose a
    pair — including pairs whose shared tokens are all FREQUENT, the
    adversarial case for prefix ordering), threshold boundary is
    inclusive, the plan stays equi-join-only, and the prefix-bucket
    guard raises instead of exploding."""
    import contextlib
    import io
    import itertools

    from pyrdfa3_spark.operators.dedup import prefix_similarity_join

    # docs engineered so some near-pairs share only high-df tokens
    texts = {
        1: "alpha beta gamma delta",
        2: "alpha beta gamma delta",          # J(1,2)=1.0 all-common
        3: "alpha beta gamma epsilon",        # J(1,3)=3/5=0.6
        4: "alpha beta zeta eta theta",       # J(1,4)=2/7
        5: "alpha beta",                      # frequent-only pair vs 6
        6: "alpha beta",                      # J(5,6)=1.0
        7: "iota kappa",                      # isolated
    }
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"])

    def jacc(a, b):
        sa, sb = set(texts[a].split()), set(texts[b].split())
        return len(sa & sb) / len(sa | sb)

    for thr in (0.5, 0.6, 1.0):
        want = {(a, b, round(jacc(a, b), 4))
                for a, b in itertools.combinations(sorted(texts), 2)
                if jacc(a, b) >= thr}
        got = {(r["doc_a"], r["doc_b"], r["jaccard"])
               for r in prefix_similarity_join(docs, threshold=thr)
               .collect()}
        assert got == want, thr

    out = prefix_similarity_join(docs, threshold=0.5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastNestedLoop" not in plan
    assert "Cartesian" not in plan
    assert "Window" not in plan

    with pytest.raises(Exception, match="prefix_similarity_join"):
        prefix_similarity_join(docs, threshold=0.5, max_bucket=1).count()


def test_label_propagation_vs_python_reference(spark):
    """Synchronous LPA against an independent in-test python
    implementation on a barbell graph (two K4 cliques + bridge) and a
    star — deterministic max-count/min-label tie-break — plus plan
    hygiene (no ranking window, no cartesian)."""
    import contextlib
    import io
    from collections import Counter

    from pyrdfa3_spark.operators.graphops import label_propagation

    raw = [("a1", "a2"), ("a1", "a3"), ("a1", "a4"), ("a2", "a3"),
           ("a2", "a4"), ("a3", "a4"),                    # clique A
           ("b1", "b2"), ("b1", "b3"), ("b1", "b4"), ("b2", "b3"),
           ("b2", "b4"), ("b3", "b4"),                    # clique B
           ("a4", "b1"),                                  # bridge
           ("hub", "s1"), ("hub", "s2"), ("hub", "s3"),   # star
           ("a1", "a1")]                                  # self-loop: out

    def python_lpa(pairs, rounds):
        adj = {}
        for s, d in pairs:
            if s == d:
                continue
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        lab = {v: v for v in adj}
        for _ in range(rounds):
            new = {}
            for v, nbrs in adj.items():
                freq = Counter(lab[u] for u in nbrs)
                top = max(freq.values())
                new[v] = min(l for l, c in freq.items() if c == top)
            lab = new
        return lab

    edges = spark.createDataFrame(raw, ["src", "dst"])
    for rounds in (1, 3, 5):
        got = {r["node"]: r["label"]
               for r in label_propagation(edges, rounds=rounds).collect()}
        assert got == python_lpa(raw, rounds), rounds

    out = label_propagation(edges, rounds=2)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_k_core_vs_python_reference(spark):
    """k-core peel against an independent python peel on a graph with
    nested cores (K5 + pendant path + a triangle bridge), the empty-
    core edge, the convergence-budget raise, and plan hygiene."""
    import contextlib
    import io

    from pyrdfa3_spark.operators.graphops import k_core

    raw = [("k1", "k2"), ("k1", "k3"), ("k1", "k4"), ("k1", "k5"),
           ("k2", "k3"), ("k2", "k4"), ("k2", "k5"), ("k3", "k4"),
           ("k3", "k5"), ("k4", "k5"),                 # K5: 4-core
           ("k5", "p1"), ("p1", "p2"), ("p2", "p3"),   # pendant path
           ("t1", "t2"), ("t2", "t3"), ("t3", "t1"),   # triangle
           ("t1", "k1"),                               # bridge
           ("k1", "k1")]                               # self-loop: out

    def python_k_core(pairs, k):
        adj = {}
        for s, d in pairs:
            if s == d:
                continue
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        while True:
            drop = {v for v, nb in adj.items() if len(nb) < k}
            if not drop:
                return {v: len(nb) for v, nb in adj.items()}
            adj = {v: nb - drop for v, nb in adj.items() if v not in drop}

    edges = spark.createDataFrame(raw, ["src", "dst"])
    for k in (2, 3, 4, 5):
        got = {r["node"]: r["degree"]
               for r in k_core(edges, k=k).collect()}
        assert got == python_k_core(raw, k), k
    assert k_core(edges, k=6).count() == 0

    with pytest.raises(RuntimeError, match="k_core"):
        # a long path peels one node per end per round: budget 1 trips
        chain = spark.createDataFrame(
            [(f"c{i}", f"c{i+1}") for i in range(12)], ["src", "dst"])
        k_core(chain, k=2, max_rounds=1)

    out = k_core(edges, k=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_tfidf_similarity_join_vs_numpy(spark):
    """tf-idf cosine join against an independent numpy implementation
    (smooth idf, L2 norm, max_df stop-wording) plus plan hygiene."""
    import contextlib
    import io
    import itertools
    import math

    import numpy as np

    from pyrdfa3_spark.operators.dedup import tfidf_similarity_join

    texts = {
        1: "spark spark catalyst shuffle join",
        2: "spark catalyst shuffle join broadcast",
        3: "duckdb oracle vector engine",
        4: "duckdb oracle vector engine spark",
        5: "the the the the",   # all tokens df-capped -> no vector
        6: "the catalyst",
    }
    # 'the' appears in docs 5,6 only: keep max_df high enough that it
    # survives in one scenario and is dropped in another
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], ["doc_id", "text"])

    def numpy_ref(threshold, max_df_frac):
        tf = {i: {} for i in texts}
        for i, t in texts.items():
            for tok in t.split():
                tf[i][tok] = tf[i].get(tok, 0) + 1
        n = float(len(texts))
        df = {}
        for i in tf:
            for tok in tf[i]:
                df[tok] = df.get(tok, 0) + 1
        vocab = sorted(tok for tok, c in df.items()
                       if c <= max_df_frac * n)
        idx = {tok: j for j, tok in enumerate(vocab)}
        out = {}
        vecs = {}
        for i in tf:
            v = np.zeros(len(vocab))
            for tok, c in tf[i].items():
                if tok in idx:
                    v[idx[tok]] = c * round(
                        math.log((1 + n) / (1 + df[tok])) + 1, 9)
            nr = np.linalg.norm(v)
            if nr > 0:
                vecs[i] = v / nr
        for a, b in itertools.combinations(sorted(vecs), 2):
            c = float(np.dot(vecs[a], vecs[b]))
            if c >= threshold:
                out[(a, b)] = round(c, 4)
        return out

    for thr, mdf in ((0.3, 0.5), (0.1, 0.9), (0.6, 0.3)):
        got = {(r["doc_a"], r["doc_b"]): r["cosine"]
               for r in tfidf_similarity_join(
                   docs, threshold=thr, max_df_frac=mdf).collect()}
        want = numpy_ref(thr, mdf)
        assert set(got) == set(want), (thr, mdf)
        for k in got:
            assert abs(got[k] - want[k]) < 1e-3, (k, got[k], want[k])

    out = tfidf_similarity_join(docs, threshold=0.3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_cms_sketch_vs_python_mirror(spark):
    """Count-min sketch: estimates equal an independent python mirror
    exactly (deterministic md5 bucketing), respect the upper-bound
    guarantee, and are exact when w is collision-free; plan stays
    aggregate+broadcast-join only."""
    import contextlib
    import hashlib
    import io
    from collections import Counter, defaultdict

    from pyrdfa3_spark.operators.sketch import cms_build, cms_estimate

    data = [(f"k{i % 97}",) for i in range(3000)] + [("rare",)]
    true = Counter(k for (k,) in data)
    df = spark.createDataFrame(data, ["key"])
    probe_keys = ["k0", "k13", "rare", "absent"]
    probes = spark.createDataFrame([(k,) for k in probe_keys], ["key"])

    def chunks(key, d, w):
        h = hashlib.md5(key.encode()).hexdigest()
        return [int(h[8 * j:8 * j + 8], 16) % w for j in range(d)]

    for d, w in ((4, 64), (2, 64), (4, 65536)):
        got = {r["key"]: r["est"]
               for r in cms_estimate(cms_build(df, d=d, w=w), probes,
                                     d=d, w=w).collect()}
        cnt = defaultdict(int)
        for (k,) in data:
            for j, b in enumerate(chunks(k, d, w)):
                cnt[(j, b)] += 1
        mirror = {k: min(cnt.get((j, b), 0)
                         for j, b in enumerate(chunks(k, d, w)))
                  for k in probe_keys}
        assert got == mirror, (d, w)
        for k in probe_keys:
            assert got[k] >= true.get(k, 0), (d, w, k)  # upper bound
    # collision-free width -> exact
    assert got == {k: true.get(k, 0) for k in probe_keys}

    with pytest.raises(ValueError, match="md5"):
        cms_build(df, d=5)

    out = cms_estimate(cms_build(df), probes)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan  # the d*w-row sketch broadcasts


def test_hll_distinct_accuracy_and_determinism(spark):
    """HyperLogLog: per-group estimates land within the sketch's
    error envelope of the true cardinalities at several scales (incl.
    the linear-counting small range), are bit-identical across runs,
    and reject non-hex-aligned precisions."""
    from pyrdfa3_spark.operators.sketch import hll_distinct

    rows = ([("small", f"s{i}") for i in range(12)]
            + [("mid", f"m{i}") for i in range(980)]
            + [("big", f"b{i}") for i in range(20000)]
            + [("mid", f"m{i}") for i in range(500)])  # repeats: no-op
    df = spark.createDataFrame(rows, ["grp", "key"])
    true = {"small": 12, "mid": 980, "big": 20000}
    for p, rel in ((4, 0.55), (8, 0.14), (12, 0.04)):
        got = {r["grp"]: r["est"]
               for r in hll_distinct(df, ["grp"], key_col="key",
                                     p=p).collect()}
        for g, t in true.items():
            assert abs(got[g] - t) <= max(rel * t, 3.0), (p, g, got[g])
        rerun = {r["grp"]: r["est"]
                 for r in hll_distinct(df, ["grp"], key_col="key",
                                       p=p).collect()}
        assert rerun == got, p  # deterministic registers

    for bad in (3, 6, 16):
        with pytest.raises(ValueError, match="hex-aligned"):
            hll_distinct(df, ["grp"], key_col="key", p=bad)


def test_hll_union_merge_equals_single_pass(spark):
    """HLL mergeability: union of per-batch register states estimates
    EXACTLY what a single-pass sketch over the concatenation gives —
    including overlapping batches (register max is idempotent, so
    at-least-once re-ingestion cannot move the estimate)."""
    from pyrdfa3_spark.operators.sketch import (
        hll_distinct, hll_estimate, hll_registers, hll_union,
    )

    rows = [("g", f"x{i}") for i in range(5000)]
    df = spark.createDataFrame(rows, ["grp", "key"])
    half1 = df.filter(F.col("key") < "x25")      # lexicographic split
    half2 = df.filter(F.col("key") >= "x25")
    overlap = df.filter(F.col("key") < "x4")     # re-ingested slice
    for p in (4, 8):
        whole = {r["grp"]: r["est"]
                 for r in hll_distinct(df, ["grp"], key_col="key",
                                       p=p).collect()}
        merged = hll_estimate(
            hll_union(hll_registers(half1, ["grp"], "key", p),
                      hll_registers(half2, ["grp"], "key", p),
                      hll_registers(overlap, ["grp"], "key", p)),
            ["grp"], p)
        got = {r["grp"]: r["est"] for r in merged.collect()}
        assert got == whole, p


def test_weighted_sample_vs_python_mirror(spark):
    """Efraimidis-Spirakis weighted sample: selection equals an
    independent python mirror of the closed form (md5-derived
    exponential keys, global top-n), non-positive weights are
    excluded, heavier duplicates of the same content rank no worse,
    and the plan has no global ranking window."""
    import contextlib
    import hashlib
    import io
    import math

    from pyrdfa3_spark.operators.curation import weighted_sample

    rows = [(i, (i % 37) + 1) for i in range(500)]
    rows += [(1000, 0), (1001, -5)]            # excluded
    docs = spark.createDataFrame(rows, ["doc_id", "wt"])

    def r9(x):
        # Spark/DuckDB round() is HALF_UP on the decimal rendering;
        # python's round() is half-even — mirror the engines
        from decimal import ROUND_HALF_UP, Decimal
        return float(Decimal(repr(x)).quantize(Decimal("1e-9"),
                                               rounding=ROUND_HALF_UP))

    def mirror(n):
        scored = []
        for i, w in rows:
            if w <= 0:
                continue
            hx = hashlib.md5(str(i).encode()).hexdigest()
            u = (int(hx[:15], 16) + 1.0) / float(2 ** 60 + 1)
            scored.append((r9(r9(math.log(u)) / w), -i))
        scored.sort(reverse=True)
        return [(-i, s) for s, i in scored[:n]]

    for n in (10, 50):
        got = [(r["doc_id"], r["score"])
               for r in weighted_sample(docs, "wt", n=n).collect()]
        got.sort(key=lambda t: (-t[1], t[0]))
        assert got == mirror(n), n
    assert not any(d in (1000, 1001)
                   for d, _ in mirror(502))  # excluded stay excluded

    # monotonicity: for a fixed id (fixed u), a larger weight only
    # improves the key — heavier items can't rank worse
    hx = hashlib.md5(b"7").hexdigest()
    u = (int(hx[:15], 16) + 1.0) / float(2 ** 60 + 1)
    assert round(round(math.log(u), 9) / 10, 9) \
        > round(round(math.log(u), 9) / 2, 9)

    out = weighted_sample(docs, "wt", n=5)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Cartesian" not in plan


def test_adamic_adar_vs_python_reference(spark):
    """Adamic-Adar link prediction against an independent python
    implementation (shared wedge centers, 1/ln(deg) weights,
    adjacent-pair exclusion, degree cap), plus plan hygiene."""
    import contextlib
    import io
    import itertools
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from pyrdfa3_spark.operators.graphops import adamic_adar

    raw = [("a", "z1"), ("b", "z1"),              # z1 links a,b
           ("a", "z2"), ("b", "z2"), ("c", "z2"),  # z2 links a,b,c
           ("a", "b"),                             # a-b adjacent: out
           ("hub", "a"), ("hub", "b"), ("hub", "c"), ("hub", "d"),
           ("p", "q")]                             # isolated pair

    def r9(x):
        return float(Decimal(repr(x)).quantize(Decimal("1e-9"),
                                               rounding=ROUND_HALF_UP))

    def python_aa(pairs, cap):
        adj = {}
        for s, d in pairs:
            if s == d:
                continue
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
        out = {}
        for z, nb in adj.items():
            if not 2 <= len(nb) <= cap:
                continue
            t = r9(1.0 / math.log(len(nb)))
            for x, y in itertools.combinations(sorted(nb), 2):
                if y in adj.get(x, ()):
                    continue
                cn, aa = out.get((x, y), (0, 0.0))
                out[(x, y)] = (cn + 1, aa + t)
        return {k: (cn, round(aa, 4),
                    round(cn / (len(adj[k[0]]) + len(adj[k[1]]) - cn),
                          4))
                for k, (cn, aa) in out.items()}

    for cap in (64, 3):
        got = {(r["node_a"], r["node_b"]):
               (r["cn"], r["aa"], r["jaccard"])
               for r in adamic_adar(
                   spark.createDataFrame(raw, ["src", "dst"]),
                   max_degree=cap).collect()}
        assert got == python_aa(raw, cap), cap

    out = adamic_adar(spark.createDataFrame(raw, ["src", "dst"]))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "Window" not in plan
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


def test_negative_samples_vs_python_reference(spark):
    """Filtered negative sampling against an independent python
    implementation: dense lexicographic entity ranks, md5-indexed
    draws, real-triple (incl. self) collision filtering, k fan-out."""
    import hashlib

    from pyrdfa3_spark.operators.graphops import negative_samples

    raw = [("a", "p", "x"), ("a", "p", "y"), ("b", "q", "x"),
           ("b", "q", "x"),                       # dup: set semantics
           ("c", "p", "a")]                       # subj also an object

    def python_ns(trips, k):
        t0 = sorted(set(trips))
        pool = sorted({s for s, _, _ in t0} | {o for _, _, o in t0})
        out = set()
        for s, p, o in t0:
            for j in range(k):
                h = hashlib.md5(f"{s}|{p}|{o}|{j}".encode()).hexdigest()
                e = pool[int(h[:15], 16) % len(pool)]
                if (s, p, e) not in set(t0):
                    out.add((s, p, e, j))
        return out

    df = spark.createDataFrame(raw, ["subj", "pred", "obj"])
    for k in (1, 2, 4):
        got = {(r["subj"], r["pred"], r["neg_obj"], r["j"])
               for r in negative_samples(df, k=k).collect()}
        assert got == python_ns(raw, k), k

    # no sample may reproduce a real triple
    got = {(r["subj"], r["pred"], r["neg_obj"])
           for r in negative_samples(df, k=4).collect()}
    assert not (got & {(s, p, o) for s, p, o in raw})


def test_merge_and_truncate_turns_vs_python(spark):
    """Transcript repair ops against independent python references:
    consecutive same-role merging (dense re-index, n_merged counts,
    order-insensitive input) and token-budget prefix truncation
    (overflow turn drops everything after it, zero-token turns,
    single-turn-overflow edge)."""
    from pyrdfa3_spark.operators.transcripts import (
        merge_consecutive_turns, truncate_conversations,
    )

    rows = [
        ("c1", 0, "user", "a b"), ("c1", 1, "user", "c"),
        ("c1", 2, "assistant", "d e f"), ("c1", 3, "user", "g"),
        ("c1", 4, "user", "h i"), ("c1", 5, "user", "j"),
        ("c2", 0, "assistant", "solo"),
        ("c3", 0, "user", "one two three four five six seven"),  # > budget
        ("c3", 1, "user", ""),                                   # 0 tokens
        ("c4", 0, "user", "x"), ("c4", 1, "assistant", ""),
    ]
    import random
    shuffled = rows[:]
    random.Random(7).shuffle(shuffled)   # input order must not matter
    tr = spark.createDataFrame(shuffled, ["conv_id", "turn_idx",
                                          "role", "text"])

    def py_merge(rs):
        out = []
        by_conv = {}
        for c, i, r, t in sorted(rs):
            by_conv.setdefault(c, []).append((r, t))
        for c, turns in by_conv.items():
            merged = []
            for r, t in turns:
                if merged and merged[-1][0] == r:
                    merged[-1] = (r, merged[-1][1] + "\n" + t,
                                  merged[-1][2] + 1)
                else:
                    merged.append((r, t, 1))
            out += [(c, i, r, t, n)
                    for i, (r, t, n) in enumerate(merged)]
        return set(out)

    got = {tuple(r) for r in merge_consecutive_turns(tr).collect()}
    assert got == py_merge(rows)

    def py_trunc(rs, budget):
        out = []
        by_conv = {}
        for c, i, r, t in sorted(rs):
            by_conv.setdefault(c, []).append((i, r, t))
        for c, turns in by_conv.items():
            cum = 0
            for i, r, t in turns:
                n = len([w for w in t.split() if w])
                cum += n
                if cum > budget:
                    break
                out.append((c, i, r, t, n, cum))
        return set(out)

    for budget in (3, 6, 100):
        got = {tuple(r)
               for r in truncate_conversations(tr,
                                               max_tokens=budget).collect()}
        assert got == py_trunc(rows, budget), budget


def test_hits_vs_python_reference(spark):
    """HITS against an independent python power iteration (L1
    normalization, auth-from-old-hub then hub-from-new-auth update
    order) on an asymmetric citation graph."""
    from pyrdfa3_spark.operators.graphops import hits as spark_hits

    raw = [("h1", "a1"), ("h1", "a2"), ("h1", "a3"),   # strong hub
           ("h2", "a1"), ("h2", "a2"),
           ("x", "a1"),                                # a1: top authority
           ("a1", "h1"),                               # back-edge
           ("iso1", "iso2")]

    def python_hits(pairs, iters):
        edges = sorted(set(pairs))
        nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
        hub = {v: 1.0 / len(nodes) for v in nodes}
        auth = dict(hub)
        for _ in range(iters):
            a = {v: 0.0 for v in nodes}
            for s, d in edges:
                a[d] += hub[s]
            tot = sum(a.values())
            auth = {v: a[v] / tot for v in nodes}
            h = {v: 0.0 for v in nodes}
            for s, d in edges:
                h[s] += auth[d]
            tot = sum(h.values())
            hub = {v: h[v] / tot for v in nodes}
        return {v: (round(hub[v], 9), round(auth[v], 9)) for v in nodes}

    for iters in (1, 4, 8):
        got = {r["node"]: (r["hub"], r["auth"])
               for r in spark_hits(
                   spark.createDataFrame(raw, ["src", "dst"]),
                   iterations=iters).collect()}
        want = python_hits(raw, iters)
        assert got.keys() == want.keys(), iters
        for v in want:
            assert got[v][0] == pytest.approx(want[v][0], abs=1e-8), v
            assert got[v][1] == pytest.approx(want[v][1], abs=1e-8), v


def test_sketch_and_truncate_review_regressions(spark):
    """Round-3e review findings pinned: (1) a saturated HLL register
    (all-zero rank field -> reg = field_bits+1) must contribute a
    finite positive term, not a masked negative shift; (2) an
    empty-input group estimates 0.0, never NULL; (3) cms_estimate
    rejects d > 4 like cms_build instead of silently answering 0;
    (4) a NULL-text turn counts zero tokens instead of resetting the
    truncation budget."""
    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from pyrdfa3_spark.operators.sketch import (
        cms_build, cms_estimate, hll_estimate,
    )
    from pyrdfa3_spark.operators.transcripts import truncate_conversations

    # (1) saturated register: p=4 -> field_bits=56, reg=57 legal
    regs = spark.createDataFrame(
        [("g", 0, 57), ("g", 1, 1)],
        StructType([StructField("grp", StringType()),
                    StructField("bucket", LongType()),
                    StructField("reg", IntegerType())]))
    est = hll_estimate(regs, ["grp"], p=4).collect()[0]["est"]
    assert est is not None and 0 < est < 100

    # (2) zero observed registers -> 0.0, not NULL
    empty = spark.createDataFrame(
        [], StructType([StructField("grp", StringType()),
                        StructField("bucket", LongType()),
                        StructField("reg", IntegerType())]))
    out = hll_estimate(empty.withColumn("g", F.lit(1)), ["g"],
                       p=4).collect()
    assert out == [] or out[0]["est"] == 0.0

    # (3) estimate-side d guard matches the build side
    df = spark.createDataFrame([("k",)], ["key"])
    with pytest.raises(ValueError, match="md5"):
        cms_estimate(cms_build(df), df, d=5)

    # (4) NULL text: zero tokens, budget intact for later turns
    tr = spark.createDataFrame(
        [("c", 0, "user", "a b"), ("c", 1, "user", None),
         ("c", 2, "user", "c d")],
        StructType([StructField("conv_id", StringType()),
                    StructField("turn_idx", IntegerType()),
                    StructField("role", StringType()),
                    StructField("text", StringType())]))
    kept = {(r["turn_idx"], r["n_tokens"], r["cum_tokens"])
            for r in truncate_conversations(tr, max_tokens=3).collect()}
    assert kept == {(0, 2, 2), (1, 0, 2)}   # t2 would exceed: dropped
    kept4 = {(r["turn_idx"], r["cum_tokens"])
             for r in truncate_conversations(tr, max_tokens=4).collect()}
    assert kept4 == {(0, 2), (1, 2), (2, 4)}


def test_shacl_value_facets(spark):
    """New SHACL value-facet constraints on a hand-computed shaped
    graph: datatype equality, numeric ranges (non-numeric lexicals
    violate), length bounds, languageIn, uniqueLang, hasValue; plus
    the shapeless-store raise for shape-column constraints."""
    from pyrdfa3_spark.operators.shacl import shacl_validate

    T = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    INT = "http://www.w3.org/2001/XMLSchema#integer"
    rows = [
        # subj, pred, obj, is_iri, lang, dt
        ("a", T, "C", True, None, None),
        ("a", "p:size", "5", False, None, INT),
        ("a", "p:label", "hello", False, "en", None),
        ("a", "p:label", "hi", False, "en", None),      # dup en
        ("a", "p:flag", "y", False, None, None),
        ("b", T, "C", True, None, None),
        ("b", "p:size", "huge", False, None, "xsd:string"),  # dt + range
        ("b", "p:label", "salut", False, "de", None),        # langIn
        ("b", "p:flag", "n", False, None, None),             # hasValue
        ("c", T, "C", True, None, None),
        ("c", "p:size", "200", False, None, INT),            # > max
    ]
    df = spark.createDataFrame(
        rows, ["subj", "pred", "obj", "obj_is_iri", "obj_lang",
               "obj_datatype"])
    shape = {"name": "S", "target_class": "C", "properties": [
        {"path": "p:size", "datatype": INT,
         "min_inclusive": 1, "max_inclusive": 100},
        {"path": "p:label", "language_in": ["en", "fr"],
         "unique_lang": True},
        {"path": "p:flag", "has_value": "y"},
    ]}
    got = {(r["focus"], r["constraint"], r["value"])
           for r in shacl_validate(df, [shape]).collect()}
    assert got == {
        ("b", "datatype", "huge"),
        ("b", "minInclusive", "huge"),   # non-numeric: both bounds fail
        ("b", "maxInclusive", "huge"),
        ("c", "maxInclusive", "200"),
        ("b", "languageIn", "salut"),
        ("a", "uniqueLang", "en"),
        ("b", "hasValue", None),
        ("c", "hasValue", None),   # absent property violates hasValue
    }

    shapeless = df.select("subj", "pred", "obj")
    with pytest.raises(ValueError, match="obj_datatype"):
        shacl_validate(shapeless, [shape])


def test_compact_triples_planned(spark, tmp_path):
    """Plan-driven group compaction: grouping runs through the
    distributed binpack planner, groups never mix partitions, content
    is identical after the rewrite, a crashed mid-swap staging dir
    (journal written, inputs partially deleted) is repaired on the
    next run, and a run after that is a no-op."""
    import json
    import os

    from pyrdfa3_spark.plans.extract import compact_triples_planned

    out = str(tmp_path / "graph")
    df = spark.range(0, 600).selectExpr(
        "CAST(id AS STRING) AS conv_id", "'s' || id AS subj",
        "'p' AS pred", "'o' || id AS obj")
    (df.repartition(12)
     .withColumn("conv_bucket", F.pmod(F.hash("conv_id"), F.lit(3)))
     .write.partitionBy("conv_bucket").parquet(out))
    parts = [d for d in os.listdir(out)
             if d.startswith("conv_bucket=")]
    files_before = {
        p: len([f for f in os.listdir(os.path.join(out, p))
                if f.endswith(".parquet")]) for p in parts}
    assert all(n > 4 for n in files_before.values())
    before = sorted(map(tuple, spark.read.parquet(out)
                        .select("subj", "pred", "obj").collect()))

    # tiny target -> several bins per partition (true group rewrites,
    # not one-bin-per-partition)
    report = compact_triples_planned(spark, out, target_bytes=40_000)
    assert report["repaired"] == 0 and report["groups"]
    # groups never mix partitions, and every group really grouped
    for (part, _bin), info in report["groups"].items():
        assert part in parts and info["files_before"] >= 2
    after = sorted(map(tuple, spark.read.parquet(out)
                       .select("subj", "pred", "obj").collect()))
    assert after == before
    files_after = {
        p: len([f for f in os.listdir(os.path.join(out, p))
                if f.endswith(".parquet")]) for p in parts}
    assert all(files_after[p] < files_before[p] for p in parts)

    # crash mid-swap: stage a verified rewrite of one remaining file
    # (journal present, input NOT yet deleted) plus an unverified
    # staging dir (no journal); the next run completes the first and
    # discards the second, never duplicating rows
    part = parts[0]
    pdir = os.path.join(out, part)
    victim = os.path.join(pdir, sorted(
        f for f in os.listdir(pdir) if f.endswith(".parquet"))[0])
    # two live sibling files so the repaired partition still forms a
    # rewrite group THIS run: a partition dir sorts before its own
    # staging dir, so an implementation that interleaves listing with
    # repair would list the journaled input too and then group a
    # just-deleted path (read fails) — repair must complete first
    sib = spark.read.parquet(victim)
    for i in (1, 2):
        sib.coalesce(1).write.mode("overwrite") \
            .parquet(os.path.join(out, f"_sib{i}.tmp"))
        src = next(os.path.join(out, f"_sib{i}.tmp", f)
                   for f in os.listdir(os.path.join(out, f"_sib{i}.tmp"))
                   if f.endswith(".parquet"))
        os.replace(src, os.path.join(pdir, f"extra-{i}.parquet"))
        import shutil
        shutil.rmtree(os.path.join(out, f"_sib{i}.tmp"))
    before = sorted(before + 2 * sorted(
        map(tuple, sib.select("subj", "pred", "obj").collect())))
    staging = os.path.join(out, part + ".binX.deadbeef.compacting")
    os.makedirs(staging)
    spark.read.parquet(victim).coalesce(1).write.mode("overwrite") \
        .parquet(staging + ".tmp")
    staged_src = next(
        os.path.join(staging + ".tmp", f)
        for f in os.listdir(staging + ".tmp") if f.endswith(".parquet"))
    os.replace(staged_src, os.path.join(staging, "part-0.parquet"))
    with open(os.path.join(staging, "_compact_journal.json"),
              "w") as fh:
        json.dump({"inputs": [victim],
                   "outputs": {os.path.join(staging, "part-0.parquet"):
                               os.path.join(pdir,
                                            "compact-repair.parquet")}},
                  fh)
    os.makedirs(os.path.join(out, part + ".binY.feed.compacting"))

    report2 = compact_triples_planned(spark, out, target_bytes=10**9)
    assert report2["repaired"] == 1
    assert not os.path.exists(victim)
    # the repaired output joined THIS run's rewrite group (repair
    # completes before listing), so the partition re-compacted —
    # content identity is the durable postcondition
    assert (part, 0) in report2["groups"]
    repaired = sorted(map(tuple, spark.read.parquet(out)
                          .select("subj", "pred", "obj").collect()))
    assert repaired == before
    # a further run: nothing left to compact or repair
    assert compact_triples_planned(spark, out, target_bytes=10**9) == {
        "groups": {}, "repaired": 0}


def test_pii_scan_and_redact(spark):
    from pyrdfa3_spark.operators.textops import pii_redact, pii_scan
    docs = spark.createDataFrame(
        [(1, "mail me at a.b+x@ex-site.org or c@d.io thanks"),
         (2, "server 10.0.255.3 and ssn 123-45-6789 ok"),
         (3, "call +44 20 7946 0958 today"),
         (4, "nothing here, 1.2.3 is a version not an ip"),
         (5, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in pii_scan(docs).collect()}
    assert (got[1]["n_email"], got[1]["has_pii"]) == (2, True)
    assert (got[2]["n_ipv4"], got[2]["n_ssn"]) == (1, 1)
    assert (got[3]["n_phone"], got[3]["has_pii"]) == (1, True)
    assert got[4]["has_pii"] is False and got[4]["n_ipv4"] == 0
    assert got[5]["has_pii"] is False
    red = {r["doc_id"]: r["text"] for r in pii_redact(docs).collect()}
    assert red[1] == "mail me at [EMAIL] or [EMAIL] thanks"
    assert red[2] == "server [IPV4] and ssn [SSN] ok"
    assert red[3] == "call [PHONE] today"
    assert red[4] == docs.collect()[3]["text"]


def test_repetition_stats_hand_computed(spark):
    from pyrdfa3_spark.operators.textops import repetition_stats
    docs = spark.createDataFrame(
        [(1, "a\nb\na\n\nc"),            # 4 lines, 'a' duplicated
         (2, "p1 x\n\np1 x\n\np2"),      # 3 paras, one duplicated
         (3, "w w w w"),                 # bigrams: 3x 'w w'
         (4, "x y z"),                   # all bigrams distinct
         (5, "solo"),                    # no bigram
         (6, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    # doc 1: lines [a, b, a, c] -> (4-3)/4
    assert got[1]["n_lines"] == 4
    assert abs(got[1]["dup_line_frac"] - 0.25) < 1e-9
    # doc 2: paras [p1 x, p1 x, p2] -> (3-2)/3
    assert abs(got[2]["dup_para_frac"] - round(1 / 3, 4)) < 1e-9
    # doc 3: grams [w w, w w, w w] -> top share 1.0
    assert abs(got[3]["top_bigram_share"] - 1.0) < 1e-9
    # doc 4: 2 distinct bigrams -> each appears once -> 1/2
    assert abs(got[4]["top_bigram_share"] - 0.5) < 1e-9
    assert got[5]["top_bigram_share"] == 0.0
    assert got[6]["n_lines"] == 0 and got[6]["dup_line_frac"] == 0.0


def test_repetition_window_is_model_parameter(spark):
    from pyrdfa3_spark.operators.textops import repetition_stats
    # 10 'r r' bigrams then distinct tail; window 5 sees only the
    # repeated head -> share 1.0; full window dilutes it
    text = " ".join(["r"] * 11 + ["t%d" % i for i in range(10)])
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    full = repetition_stats(docs).collect()[0]["top_bigram_share"]
    small = repetition_stats(docs, ngram_window=5) \
        .collect()[0]["top_bigram_share"]
    assert small == 1.0 and full < 1.0


def test_tool_usage_hand_computed(spark):
    from pyrdfa3_spark.operators.transcripts import tool_usage
    rows = [
        # conv A: t0 browser @0s, t1 @10s, t2 python @25s, t3 @25s
        ("A", 0, "assistant", "x", "browser", "2026-01-01 00:00:00"),
        ("A", 1, "user", "x", "", "2026-01-01 00:00:10"),
        ("A", 2, "assistant", "x", "python", "2026-01-01 00:00:25"),
        ("A", 3, "user", "x", "", "2026-01-01 00:00:25"),
        # conv B: browser twice; final browser turn has no successor
        ("B", 0, "assistant", "x", "browser", "2026-01-01 01:00:00"),
        ("B", 1, "user", "x", "", "2026-01-01 01:00:02"),
        ("B", 2, "assistant", "x", "browser", "2026-01-01 01:00:05"),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, "
              "text string, tool string, ts string") \
        .withColumn("ts", F.to_timestamp("ts"))
    got = {r["tool"]: r for r in tool_usage(tr).collect()}
    assert set(got) == {"browser", "python"}
    b = got["browser"]
    # three browser calls in two convs; latencies 10000 and 2000 ms,
    # B's final call contributes none
    assert (b["n_calls"], b["n_convs"], b["n_latencies"]) == (3, 2, 2)
    assert abs(b["mean_latency_ms"] - 6000.0) < 1e-9
    assert b["max_latency_ms"] == 10000
    assert abs(b["turn_share"] - round(3 / 7, 6)) < 1e-12
    p = got["python"]
    assert (p["n_calls"], p["n_latencies"],
            p["max_latency_ms"]) == (1, 1, 0)


def test_role_transitions_hand_computed(spark):
    from pyrdfa3_spark.operators.transcripts import role_transitions
    rows = [("A", 0, "user"), ("A", 1, "assistant"), ("A", 2, "user"),
            ("A", 3, "user"),              # user->user run
            ("B", 0, "user"), ("B", 1, "assistant"),
            ("C", 0, "tool")]              # single-turn: no transition
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string")
    got = {(r["from_role"], r["to_role"]): (r["n"], r["n_convs"])
           for r in role_transitions(tr).collect()}
    assert got == {("user", "assistant"): (2, 2),
                   ("assistant", "user"): (1, 1),
                   ("user", "user"): (1, 1)}


def test_domain_mix_hand_computed(spark):
    from pyrdfa3_spark.operators.textops import domain_mix
    docs = spark.createDataFrame(
        [(1, "a b c", "web"), (2, "d e", "web"),
         (3, "f", "books"), (4, "", "books")],
        "doc_id long, text string, source string")
    got = {r["source"]: r for r in domain_mix(docs).collect()}
    w, b = got["web"], got["books"]
    assert (w["n_docs"], w["n_tokens"]) == (2, 5)
    assert (b["n_docs"], b["n_tokens"]) == (2, 1)
    assert abs(w["doc_share"] - 0.5) < 1e-12
    assert abs(w["token_share"] - round(5 / 6, 6)) < 1e-12
    assert abs(b["token_share"] - round(1 / 6, 6)) < 1e-12
