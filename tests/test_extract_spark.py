"""Spark-layer tests: spans-table synthesis, the span-sequence invariant
(BASELINE.json:15 — kind, text, media_ref, order), distributed extraction,
lineage/metrics planes, multimodal plumbing."""

from pyspark.sql import functions as F

from akf_cdparser_spark import fixtures
from akf_cdparser_spark.analytics import multimodal
from akf_cdparser_spark.operators import extract as X

N = 24


def test_span_sequence_invariant(spark):
    """The engine's spans view must reproduce the synthesis-rule sequence
    (kind, text, media_ref, order) exactly, per row, independent of
    partitioning."""
    docs = X.docs_dataframe(spark, N, partitions=5)
    got = (X.spans_view(docs)
           .orderBy("doc_id", "seq")
           .collect())
    by_doc: dict[str, list] = {}
    for row in got:
        by_doc.setdefault(row.doc_id, []).append(row)
    for i in range(N):
        doc_id = fixtures.doc_id_for(i)
        expected = fixtures.html_to_spans(fixtures.synth_html(i, N))
        actual = by_doc[doc_id]
        assert len(actual) == len(expected)
        for exp, act in zip(expected, actual):
            assert (act.kind, act.text, act.media_ref, act.offset) == (
                exp["kind"], exp["text"], exp["media_ref"], exp["offset"])


def test_extraction_matches_local_kernel(spark):
    """Distributed extraction == single-process kernel on the same doc."""
    import json

    from akf_cdparser_spark.kernel import parse_document

    docs = X.docs_dataframe(spark, N, partitions=4)
    recs = {r["doc_id"]: r for r in
            X.extract_records(docs).select("doc_id", "record_json").collect()}
    for i in (0, 7, 17):
        local, _, _ = parse_document(fixtures.synth_html(i, N))
        dist = json.loads(recs[fixtures.doc_id_for(i)]["record_json"])
        assert json.dumps(local, sort_keys=True, ensure_ascii=False, default=str) \
            == json.dumps(dist, sort_keys=True, ensure_ascii=False, default=str)


def test_partitioning_invariance(spark):
    """Same corpus content regardless of parallelism (2 vs 16 partitions)."""
    a = (X.extract_records(X.docs_dataframe(spark, N, partitions=2))
         .select("doc_id", "name", "wkn").orderBy("doc_id").collect())
    b = (X.extract_records(X.docs_dataframe(spark, N, partitions=16))
         .select("doc_id", "name", "wkn").orderBy("doc_id").collect())
    assert a == b


def test_lineage_and_metrics_planes(spark):
    docs = X.docs_dataframe(spark, N)
    recs = X.extract_records(docs).cache()
    lin = X.lineage_table(recs)
    met = X.metrics_table(recs)
    assert lin.filter(F.col("category") == "Sitz").count() == N
    per_doc = met.groupBy("doc_id").agg(F.sum("call_count").alias("n")).collect()
    assert all(r.n >= 10 for r in per_doc)
    recs.unpersist()


def test_errors_never_fail_job(spark):
    """A malformed doc yields an error row, not a job failure (S7)."""
    rows = [("bad/0001", [{"kind": "text", "text": None, "media_ref": "",
                           "offset": 0}])]
    docs = spark.createDataFrame(rows, X.DOCS_SCHEMA)
    out = X.extract_records(docs).collect()
    assert len(out) == 1  # row exists whatever happened


def test_arrow_record_batches_equal_row_builder(spark):
    """``extract_records`` builds its Arrow batches column by column; every
    row must equal the one Spark makes from ``_parse_profile``'s dict —
    lineage, call counts, typed arrays and coverage included — on a corpus
    with an empty document and truncated pages whose records carry
    ``_errors``."""
    htmls = {fixtures.doc_id_for(i): fixtures.synth_html(i, N)
             for i in range(N)}
    htmls["empty/0000"] = ""
    for i in (6, 18):
        html = fixtures.synth_html(i, 4000)
        htmls[f"cut/{i:04d}"] = html[: len(html) * 3 // 10]
    docs, expected, n_errors = [], [], 0
    for doc_id, html in sorted(htmls.items()):
        spans = fixtures.html_to_spans(html)
        n_media = sum(s["kind"] == "media" for s in spans)
        docs.append((doc_id, spans))
        row = X._parse_profile(doc_id, fixtures.spans_to_text(spans), n_media)
        n_errors += row["error"] is not None
        expected.append(row)
    assert n_errors >= 2
    want = spark.createDataFrame(expected, X.RECORDS_SCHEMA).collect()
    got = (X.extract_records(spark.createDataFrame(docs, X.DOCS_SCHEMA))
           .orderBy("doc_id").collect())
    assert got == want


def test_multimodal_plumbing(spark):
    docs = X.docs_dataframe(spark, N)
    media = multimodal.synth_media(spark, docs).cache()
    assert media.count() == N  # one chart per doc
    feats = multimodal.extract_features(media, fake=True).collect()
    assert all(len(f.features) == 8 for f in feats)
    n_by_ref = {r.media_ref: r.n_bytes
                for r in media.select("media_ref", "meta.n_bytes").collect()}
    assert all(f.n_bytes == n_by_ref[f.media_ref] > 0 for f in feats)
    # metadata-only projection prunes the binary column at the scan
    meta = multimodal.metadata_only(media)
    assert "content" not in meta.columns
    # deterministic features: same ref -> same sha
    by_ref = {f.media_ref: f.sha256 for f in feats}
    feats2 = multimodal.extract_features(media, fake=True).collect()
    assert {f.media_ref: f.sha256 for f in feats2} == by_ref
    media.unpersist()


def test_decode_stub_raises_without_fake():
    import pytest

    if multimodal._PILImage is not None:
        pytest.skip("PIL present: real decode path active")
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"xx", fake=False)


def test_netpbm_real_decode_known_quadrants():
    """Dependency-free REAL decode: a handcrafted 2x2 P6 with known pixels
    must produce the exact quadrant means (integer ITU-R 601 luma)."""
    # pixels: (255,0,0) (0,255,0) / (0,0,255) (255,255,255)
    raster = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255])
    payload = b"P6\n# c\n2 2\n255\n" + raster
    f = multimodal.decode_image(payload, fake=False)
    lumas = [(299 * 255) // 1000, (587 * 255) // 1000,
             (114 * 255) // 1000, 255]
    assert f[:4] == [v / 255 for v in lumas]
    assert f[4] == 2 / 4096.0 and f[5] == 2 / 4096.0
    # P5 grayscale and comment/whitespace handling
    g = multimodal.decode_image(b"P5\n#x\n 1 2\n255\n" + bytes([10, 20]),
                                fake=False)
    assert g[:4] == [10 / 255, 10 / 255, 20 / 255, 20 / 255]
    import pytest
    with pytest.raises(ValueError):
        multimodal._netpbm_decode(b"P6\n2 2\n255\n" + bytes(3))  # truncated


def test_wav_real_decode_known_samples():
    """Dependency-free REAL audio decode: a handcrafted PCM16 WAV with
    known samples must produce the exact normalized features."""
    import struct
    samples = [16384, -16384, 0, 32767]
    data = struct.pack("<4h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    wav = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
           + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    f = multimodal.decode_audio(wav, fake=False)
    assert f[0] == (sum(v * v for v in samples) / 4) ** 0.5 / 32768.0
    assert f[1] == 32767 / 32768.0
    assert f[2] == 2 / 3          # sign changes at 0->1 and 1->2 only
    assert f[3] == 32767 / 4 / 32768.0
    assert f[4] == (4 / 8000) / 3600.0
    assert f[5] == 8000 / 48000.0 and f[6] == 1 / 8.0
    import pytest
    with pytest.raises(ValueError):
        multimodal.decode_audio(b"RIFFxxxxNOPE", fake=False)


def test_multimodal_audio_end_to_end(spark):
    """extract_features(fake=False) dispatches on kind: REAL WAV decode
    over the distributed synth audio matches the pure-Python twin."""
    import pytest
    docs = X.docs_dataframe(spark, N)
    audio = multimodal.synth_audio(spark, docs)
    got = {f.media_ref: f.features
           for f in multimodal.extract_features(audio, fake=False).collect()}
    assert len(got) == N
    for ref, features in got.items():
        payload, _r, _n = multimodal.synth_wav(ref)
        exp = multimodal.decode_audio(payload, fake=False)
        assert features == pytest.approx(exp, abs=1e-6), ref


def test_y4m_real_decode_and_frame_sampling():
    """Handcrafted 2-pixel Cmono y4m: exact sampled-luma features, and
    sample_every actually skips frames (the 30fps-x-hours lever)."""
    frames = [bytes([0, 0]), bytes([255, 255]), bytes([100, 200]),
              bytes([50, 50])]
    payload = (b"YUV4MPEG2 W2 H1 F30:1 Ip A1:1 Cmono\n"
               + b"".join(b"FRAME\n" + f for f in frames))
    f = multimodal.decode_video(payload, fake=False, sample_every=2)
    m0, m2 = 0.0, 150 / 255  # frames 0 and 2 sampled
    assert f[0] == (m0 + m2) / 2 and f[1] == m0 and f[2] == m2
    assert f[3] == m2 - m0          # one inter-frame delta
    assert f[4] == 4 / 1000 and f[5] == 30 / 60 and f[6] == 2 / 4096
    # sample_every=1 sees every frame
    g = multimodal.decode_video(payload, fake=False, sample_every=1)
    assert g[1] == 0.0 and g[2] == 50 / 255
    import pytest
    with pytest.raises(ValueError):
        multimodal.decode_video(b"YUV4MPEG2 W2 H1 Cmono\nFRAME\n\x00",
                                fake=False)  # truncated frame


def test_multimodal_video_end_to_end(spark):
    """Kind-dispatched REAL y4m decode over distributed synth video
    matches the pure-Python twin."""
    import pytest
    docs = X.docs_dataframe(spark, N)
    video = multimodal.synth_video(spark, docs)
    got = {f.media_ref: f.features
           for f in multimodal.extract_features(video, fake=False).collect()}
    assert len(got) == N
    for ref, features in got.items():
        payload, _w, _h, _n = multimodal.synth_y4m(ref)
        exp = multimodal.decode_video(payload, fake=False)
        assert features == pytest.approx(exp, abs=1e-6), ref


def test_multimodal_real_decode_end_to_end(spark):
    """extract_features(fake=False) runs the REAL netpbm decode over the
    distributed synth media and matches a pure-Python twin exactly."""
    docs = X.docs_dataframe(spark, N)
    media = multimodal.synth_media(spark, docs)
    got = {f.media_ref: f.features
           for f in multimodal.extract_features(media, fake=False).collect()}
    assert len(got) == N
    import pytest
    for ref, features in got.items():
        payload, _w, _h = multimodal.synth_ppm(ref)
        exp = multimodal.decode_image(payload, fake=False)
        # schema carries float32: compare at float32 precision
        assert features == pytest.approx(exp, abs=1e-6), ref


def test_decode_real_path_when_pil_present():
    """The operator upgrades itself the moment an image lib lands: real
    decode produces the same 8-dim feature shape as the stub."""
    import pytest

    if multimodal._PILImage is None:
        pytest.skip("no image library in this environment")
    import io

    img = multimodal._PILImage.new("RGB", (16, 8), (200, 100, 50))
    buf = io.BytesIO()
    img.save(buf, format="BMP")
    feats = multimodal.decode_image(buf.getvalue(), fake=False)
    assert len(feats) == 8
    assert all(isinstance(v, float) for v in feats)
    # deterministic: same bytes -> same features
    assert feats == multimodal.decode_image(buf.getvalue(), fake=False)


def test_corpus_variants_fire_distributed(spark):
    """The previously pytest-only kernel paths (multi-Sitz, standalone
    Anteilseigner, Public Relations, Ergebnisabführung repair, bedingtes /
    ausgegebenes Kapital, besBezugsrechte, ermAktienerwerb, Genußkapital,
    GuV) all fire in the distributed e2e path and land in the typed planes."""
    n = 48
    recs = X.extract_records(X.docs_dataframe(spark, n, partitions=6)).cache()
    met = X.metrics_table(recs)
    counts = {r.category: r.n for r in
              met.groupBy("category").agg(F.sum("call_count").alias("n")).collect()}
    assert counts["Anteilseigner"] == len([i for i in range(n) if i % 11 == 5])
    assert counts["Public Relations"] == len([i for i in range(n) if i % 8 == 5])
    assert counts["Aus Gewinn und Verlust"] == len([i for i in range(n) if i % 4 == 2])
    # Ergebnisabführung fires twice on repair-path docs (recursive re-entry)
    n_repair = len([i for i in range(n) if i % 2 == 0 and i % 8 == 2])
    n_normal = len([i for i in range(n) if i % 2 == 0 and i % 8 != 2])
    assert counts["Ergebnisabführung"] == n_normal + 2 * n_repair
    komp = {r.komponente for r in
            recs.select(F.explode("kapital_rows").alias("k"))
            .select(F.col("k.komponente").alias("komponente")).distinct().collect()}
    assert {"kapitalEntwicklung", "grundkapital", "stueckelung", "stimmrecht",
            "genehmigtesKapital", "bedingtesKapital", "besBezugsrechte",
            "ermaechtigungAktienerwerb", "entwicklungGenusKapital",
            "ausgegebenesKapital"} <= komp
    seats = recs.select(F.explode("sitz_all").alias("s")).filter(
        F.col("s.typ") == "Zweigniederlassung").count()
    assert seats == len([i for i in range(n) if i % 9 == 4])
    bb2 = recs.select(F.explode("bb_heads").alias("h")).filter(
        F.col("h.callnumber") == 2).count()
    assert bb2 == len([i for i in range(n) if i % 5 == 0])
    recs.unpersist()


def test_fulltext_matches_kernel(spark):
    from akf_cdparser_spark.kernel.document import build_fulltext

    docs = X.docs_dataframe(spark, 4)
    got = {r.doc_id: r.fulltext for r in X.fulltext_view(docs).collect()}
    for i in range(4):
        assert got[fixtures.doc_id_for(i)] == build_fulltext(
            fixtures.synth_html(i, 4))


def test_media_dedup_and_span_preserving_rewrite(spark):
    """media_dedup canonicalizes duplicate payloads (pooled synth: 13
    distinct contents across the corpus's refs) and rewrite_media_refs
    canonicalizes media_ref INSIDE the spans arrays while preserving the
    north-rule span invariant (kind, text, offset, order) exactly;
    rewriting twice is a fixpoint."""
    from akf_cdparser_spark.analytics import multimodal

    docs = X.docs_dataframe(spark, 12).cache()
    media = multimodal.synth_media_pooled(spark, docs, pool=3)
    mapping = multimodal.media_dedup(media).cache()
    m = {r.media_ref: r for r in mapping.collect()}
    assert len({r.content_hash for r in m.values()}) == 3
    # canonical is the min member of its hash group, and is a fixpoint
    for r in m.values():
        assert m[r.canonical_ref].canonical_ref == r.canonical_ref
        assert r.canonical_ref <= r.media_ref

    before = {r.doc_id: r.spans for r in docs.collect()}
    out = multimodal.rewrite_media_refs(docs, mapping).cache()
    after = {r.doc_id: r.spans for r in out.collect()}
    assert set(before) == set(after)
    rewrote = 0
    for did, spans in before.items():
        got = after[did]
        assert len(got) == len(spans)
        for s0, s1 in zip(spans, got):
            assert (s0.kind, s0.text, s0.offset) == \
                (s1.kind, s1.text, s1.offset)
            if s0.kind == "media":
                assert s1.media_ref == m[s0.media_ref].canonical_ref
                rewrote += s1.media_ref != s0.media_ref
            else:
                assert s1.media_ref == s0.media_ref
    assert rewrote > 0  # the pool actually collapsed something
    # fixpoint: a second rewrite changes nothing
    again = {r.doc_id: r.spans for r in
             multimodal.rewrite_media_refs(out, mapping).collect()}
    assert again == after
    # stats rollup is consistent with the mapping
    st = multimodal.media_dedup_stats(mapping).collect()[0]
    assert st.n_refs == len(m) and st.n_unique == 3
    assert st.n_rewritten == sum(1 for r in m.values()
                                 if r.media_ref != r.canonical_ref)
    assert st.bytes_total > st.bytes_unique > 0


def test_media_near_dups_matches_allpairs_twin(spark):
    """The banded dHash near-dup join returns EXACTLY the pinned
    all-pairs twin result — completeness of the 4x16-bit pigeonhole
    banding AND the single-sourced decode/dhash, in one check."""
    from akf_cdparser_spark.analytics import multimodal
    from akf_cdparser_spark.plans import pinned

    docs = X.docs_dataframe(spark, 40)
    media = multimodal.synth_media_pooled(spark, docs, pool=13, jitter=3)
    out = multimodal.media_near_dups(media, max_hamming=3)
    got = sorted(tuple(r) for r in
                 out.select("ref_a", "ref_b", "hamming").collect())
    assert got == sorted(pinned.Q114_EXPECTED)
    assert {r.kind for r in out.select("kind").collect()} == {"image"}


def test_crossmodal_near_dups_matches_twin_and_never_crosses_kinds(spark):
    """Mixed-modality perceptual near-dups == the pinned same-kind
    all-pairs twin; every payload is byte-distinct (exact dedup finds
    nothing); no pair crosses modalities."""
    import hashlib

    from akf_cdparser_spark.analytics import multimodal
    from akf_cdparser_spark.plans import pinned

    docs = X.docs_dataframe(spark, 40)
    media = multimodal.synth_media_pooled_mixed(spark, docs, pool=5,
                                                jitter=3).cache()
    got = sorted(tuple(r) for r in
                 multimodal.media_near_dups(media, max_hamming=3).collect())
    assert got == sorted(pinned.Q115_EXPECTED)
    rows = media.select("media_ref", "kind", "content").collect()
    assert len({hashlib.sha256(bytes(r.content)).hexdigest()
                for r in rows}) == len(rows)
    kind_of = {r.media_ref: r.kind for r in rows}
    assert all(kind_of[a] == kind_of[b] == k for a, b, k, _ in got)


def test_media_near_dups_wide_radius_matches_allpairs(spark):
    """Above radius 3 the band count grows with the radius, so the band
    join still returns every same-kind pair the all-pairs Hamming filter
    over ``media_dhash`` does."""
    from akf_cdparser_spark.analytics import multimodal

    docs = X.docs_dataframe(spark, 40)
    media = multimodal.synth_media_pooled_mixed(spark, docs, pool=5,
                                                jitter=20).cache()
    hs = sorted((r.media_ref, r.kind, r.dhash)
                for r in multimodal.media_dhash(media).collect())
    radius = 6
    truth = {(a, b, k, bin((x ^ y) & ((1 << 64) - 1)).count("1"))
             for i, (a, k, x) in enumerate(hs) for b, kb, y in hs[i + 1:]
             if kb == k
             and bin((x ^ y) & ((1 << 64) - 1)).count("1") <= radius}
    got = {tuple(r) for r in
           multimodal.media_near_dups(media, max_hamming=radius).collect()}
    assert got == truth
    assert max(t[3] for t in truth) > 3


def test_rewrite_media_refs_shared_ref_mapping(spark):
    """A non-canonical ref referenced by SEVERAL docs yields one mapping
    row per occurrence; the broadcast remap must collapse the copies
    instead of throwing 'Duplicate map key' under the default
    mapKeyDedupPolicy=EXCEPTION (ADVICE r6)."""
    from pyspark.sql import Row

    from akf_cdparser_spark.analytics import multimodal

    spans = [Row(kind="media", text="", media_ref="img_b.pbm", offset=0)]
    docs = spark.createDataFrame(
        [("d1", spans), ("d2", spans)], X.DOCS_SCHEMA)
    # per-occurrence mapping rows: img_b appears once per referencing doc
    mapping = spark.createDataFrame(
        [("img_b.pbm", "img_a.pbm"), ("img_b.pbm", "img_a.pbm")],
        "media_ref string, canonical_ref string")
    out = {r.doc_id: r.spans for r in
           multimodal.rewrite_media_refs(docs, mapping).collect()}
    assert out["d1"][0].media_ref == "img_a.pbm"
    assert out["d2"][0].media_ref == "img_a.pbm"


def test_bpe_batch_stops_on_merged_symbol_collision():
    """_select_batch must stop a batch right after a merge whose l+r
    string equals an ALREADY MERGED symbol: created (x, M) occurrences
    accumulate onto pre-existing (x, l+r) counts, so later candidates'
    counts are no longer bounded by the new-pair bound (ADVICE r6)."""
    from collections import namedtuple

    from akf_cdparser_spark.analytics import bpe

    R = namedtuple("R", "left right pair_count")
    rows = [R("l", "r", 100), R("p", "q", 50), R("x", "y", 40)]
    # no collision: all three disjoint pairs batch together
    assert len(bpe._select_batch(rows, 8, top_k=32)) == 3
    # 'lr' already exists as a merged symbol: batch stops after (l, r)
    assert bpe._select_batch(
        rows, 8, top_k=32, merged_so_far=frozenset({"lr"})) \
        == [("l", "r", 100)]
    # collision on the SECOND selection stops after it
    assert bpe._select_batch(
        rows, 8, top_k=32, merged_so_far=frozenset({"pq"})) \
        == [("l", "r", 100), ("p", "q", 50)]
