"""LLM-pipeline operators: dedup (exact/jaccard/minhash/simhash), similarity
search (brute force vs IVF recall), text analysis, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from satsure_agri_datapipeline_spark.operators import dedup as dd
from satsure_agri_datapipeline_spark.operators import multimodal as mm
from satsure_agri_datapipeline_spark.operators import similarity as sim
from satsure_agri_datapipeline_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy cat", "en"),  # near-dup of 0
        (2, "completely different words entirely here now", "en"),
        (3, "the quick brown fox jumps over the lazy dog", "en"),  # exact dup of 0
        (4, "der hund ist und die katze das haus", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup_groups(docs):
    groups = dd.exact_duplicate_groups(docs).collect()
    dup_groups = [g for g in groups if g.n_copies > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0].keeper_id == 0 and dup_groups[0].n_copies == 2


def test_ngram_jaccard_detects_near_dup(docs):
    pairs = {(r.id_a, r.id_b): r.jaccard for r in dd.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == pytest.approx(1.0)  # exact dup
    assert (0, 1) in pairs and 0.5 <= pairs[(0, 1)] < 1.0  # near dup
    assert (1, 3) in pairs
    assert not any(2 in p or 4 in p for p in pairs)  # unrelated docs


def test_minhash_lsh_candidates(docs):
    pairs = {(r.id_a, r.id_b): r.est_jaccard for r in dd.minhash_lsh_pairs(docs).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == pytest.approx(1.0)
    # unrelated docs never collide on a full band
    assert not any(2 in p or 4 in p for p in pairs)


def test_simhash_similarity_structure(docs):
    fp = {r.doc_id: r.simhash for r in dd.simhash(docs).collect()}
    assert fp[0] == fp[3]  # identical token sets

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(fp[0], fp[1]) < ham(fp[0], fp[2])  # near-dup closer than unrelated
    assert all(0 <= v < 2**32 for v in fp.values())


def test_token_stats_and_quality(docs):
    stats = {r.doc_id: r for r in tx.token_stats(docs).collect()}
    assert stats[0].n_tokens == 9
    assert stats[0].n_chars_measured == len("the quick brown fox jumps over the lazy dog")
    q = {r.doc_id: r for r in tx.quality_score(docs).collect()}
    assert 0 <= q[0].quality_score_e4 <= 10000
    assert q[0].stopword_ratio_e4 > q[2].stopword_ratio_e4  # 'the' rich doc


def test_language_id(docs):
    pred = {r.doc_id: r.predicted_lang for r in tx.language_id(docs).collect()}
    assert pred[0] == "en"
    assert pred[4] == "de"
    assert pred[2] == "en"  # zero hits → default


def test_fingerprint_equal_for_exact_dups(docs):
    fp = {r.doc_id: r.fingerprint for r in tx.fingerprint(docs).collect()}
    assert fp[0] == fp[3]
    assert fp[0] != fp[2]


@pytest.fixture(scope="module")
def vectors(spark):
    import math

    rows = []
    for i in range(50):
        angle = (i % 10) * 0.1
        rows.append((i, [math.cos(angle), math.sin(angle), float(i % 3), 1.0], i % 3))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_brute_force_topk(vectors):
    top = sim.brute_force_topk_to(vectors, query_id=0, k=5).collect()
    assert len(top) == 5
    assert all(r.vec_id != 0 for r in top)
    sims = [r.cosine_sim for r in top]
    assert sims == sorted(sims, reverse=True)
    # vec 30 has identical direction to vec 0 (same angle, same label bucket)
    assert top[0].cosine_sim == pytest.approx(1.0, abs=1e-6)


def test_ivf_recall_against_brute_force(vectors):
    exact = {r.vec_id for r in sim.brute_force_topk_to(vectors, 0, k=5).collect()}
    approx = {r.vec_id for r in sim.ivf_topk_to(vectors, 0, k=5, n_bits=4, hamming_probe=2).collect()}
    assert len(approx) == 5
    assert len(exact & approx) >= 3  # decent recall on this toy set


def test_centroid_norms(vectors):
    rows = {r.label: r for r in sim.centroid_norms(vectors).collect()}
    assert set(rows) == {0, 1, 2}
    assert all(r.centroid_norm > 0 for r in rows.values())
    assert sum(r.n_vectors for r in rows.values()) == 50


def test_multimodal_metadata_and_features(spark):
    png_magic = b"\x89PNG\r\n\x1a\n" + b"x" * 100
    jpg_magic = b"\xff\xd8\xff\xe0" + b"y" * 50
    plain = b"hello world" * 20
    df = spark.createDataFrame(
        [(1, png_magic), (2, jpg_magic), (3, plain)], "doc_id long, payload binary"
    )
    meta = {r.doc_id: r.media_meta for r in mm.attach_binary_metadata(df).collect()}
    assert meta[1].media_type == "image/png"
    assert meta[2].media_type == "image/jpeg"
    assert meta[3].media_type == "application/octet-stream"
    assert meta[1].n_bytes == 108

    feats = {r.doc_id: r for r in mm.decode_image_features(df).collect()}
    assert len(feats[1].feature) == 8
    assert sum(feats[1].feature) == pytest.approx(1.0, abs=1e-5)
    # deterministic
    feats2 = {r.doc_id: r for r in mm.decode_image_features(df).collect()}
    assert feats[1].feature == feats2[1].feature

    with pytest.raises(NotImplementedError):
        mm._real_decode(b"anything")

    frames = mm.sample_frames(df, every_n_bytes=50, max_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert len(by_doc[1]) == 3  # 108 bytes / 50 → offsets 0,50,100
    assert len(by_doc[2]) == 2


def test_multimodal_auto_decoder_falls_back_without_pil(spark):
    """real_decoder='auto' must degrade to the deterministic fake when
    Pillow is absent — identical results to the default path."""
    if mm.HAS_PIL:
        pytest.skip("Pillow present; fallback path not reachable")
    df = spark.createDataFrame([(1, b"hello" * 30)], "doc_id long, payload binary")
    auto = mm.decode_image_features(df, real_decoder="auto").collect()
    fake = mm.decode_image_features(df).collect()
    assert auto[0].feature == fake[0].feature
    auto_r = mm.resize_images(df, width=4, height=2, real_resizer="auto").collect()
    fake_r = mm.resize_images(df, width=4, height=2).collect()
    assert bytes(auto_r[0].resized) == bytes(fake_r[0].resized)
    # the explicit real path stays an honest failure
    with pytest.raises(NotImplementedError):
        mm.pil_image_features(b"x")
    with pytest.raises(NotImplementedError):
        mm.pil_resize(b"x", 2, 2)


@pytest.mark.skipif(not mm.HAS_PIL, reason="Pillow not installed")
def test_multimodal_real_pil_decode(spark):
    """With Pillow installed, 'auto' decodes a real PNG: dim features in
    [0,1] from actual pixels, and resize re-encodes a PNG of the target
    size. (Skip-marked in environments without Pillow.)"""
    from PIL import Image  # noqa: PLC0415
    import io  # noqa: PLC0415

    buf = io.BytesIO()
    Image.new("RGB", (16, 16), (128, 64, 32)).save(buf, format="PNG")
    payload = buf.getvalue()
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    feats = mm.decode_image_features(df, real_decoder="auto").collect()
    assert len(feats[0].feature) == 8
    assert all(0.0 <= v <= 1.0 for v in feats[0].feature)
    resized = mm.resize_images(df, width=4, height=2, real_resizer="auto").collect()
    out = Image.open(io.BytesIO(bytes(resized[0].resized)))
    assert out.size == (4, 2)


def test_sample_frames_slices_exact_windows(spark):
    payload = bytes(range(256))
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    frames = {
        r.frame_no: bytes(r.frame_bytes)
        for r in mm.sample_frames(df, every_n_bytes=100, max_frames=5).collect()
    }
    assert set(frames) == {0, 1, 2}  # offsets 0/100/200 < 256; 300+ dropped
    assert frames[0] == bytes(range(100))
    assert frames[1] == bytes(range(100, 200))
    assert frames[2] == bytes(range(200, 256))  # trailing partial frame


def test_simhash_bits_guard(docs):
    with pytest.raises(ValueError, match="bits"):
        dd.simhash(docs, bits=63)


def test_simhash_wide_fingerprints_not_degenerate(docs):
    """r10 scale-test regression: with the 8-hex (32-bit) md5 token prefix,
    fingerprint bits >= 32 were constant ZERO, so a 60-bit banded join put
    the whole corpus in one bucket (313 B probe volume measured at 100x).
    Wide fingerprints must populate their high bits; the <=32-bit form
    keeps the oracle-pinned 8-hex hash exactly."""
    fp60 = [r.simhash for r in dd.simhash(docs, bits=60).collect()]
    assert any(f >> 32 for f in fp60)  # high bits vary
    assert all(0 <= f < (1 << 60) for f in fp60)
    # identical token sets still collide at any width
    by_id = {r.doc_id: r.simhash for r in dd.simhash(docs, bits=60).collect()}
    assert by_id[0] == by_id[3]


def test_simhash_near_dup_pairs(docs):
    pairs = {(r.id_a, r.id_b): r.hamming for r in dd.simhash_near_dup_pairs(docs).collect()}
    assert pairs[(0, 3)] == 0  # identical token sets
    # near-dup (0,1) has small hamming iff within threshold; unrelated 2/4 never
    assert not any(2 in p or 4 in p for p in pairs)
    assert dd.simhash_near_dup_pairs(docs, max_hamming=31, n_bands=32).count() >= len(pairs)
    with pytest.raises(ValueError):
        dd.simhash_near_dup_pairs(docs, n_bands=4, max_hamming=4)  # pigeonhole broken
    with pytest.raises(ValueError):
        dd.simhash_near_dup_pairs(docs, bits=32, n_bands=5)


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3, needs >1 iteration) plus clique {10,11,12}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    comp = {r.node_id: r.component_id for r in dd.connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_dedup_keep_canonical(docs):
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    kept = sorted(r.doc_id for r in dd.dedup_keep_canonical(docs, pairs).collect())
    # cluster {0,1,3} collapses to 0; 2 and 4 untouched
    assert kept == [0, 2, 4]


def test_driver_cc_result_broadcasts_into_anti_join(docs):
    # optimization r13: the driver union-find path knows its result's exact
    # size, so it carries a broadcast hint — the canonical-dedup anti-join
    # must plan BroadcastHashJoin (no Exchange+Sort over the corpus side),
    # not SortMergeJoin, regardless of size estimates.
    pairs = dd.ngram_jaccard_pairs(docs, threshold=0.5)
    kept = dd.dedup_keep_canonical(docs, pairs)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_embedding_near_dup_pairs(vectors):
    pairs = sim.embedding_near_dup_pairs(vectors, threshold=0.999999, n_bits=4).collect()
    assert pairs, "identical-direction vectors must pair"
    for r in pairs:
        assert r.id_a < r.id_b
        assert r.cosine_sim >= 0.999999
    # vectors 0 and 30 share angle 0.0 and the same sign cell
    assert any((r.id_a, r.id_b) == (0, 30) for r in pairs)


def test_chunk_documents_windows(spark):
    text = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, text), (2, "short doc")], "doc_id long, text string")
    chunks = {
        (r.doc_id, r.chunk_idx): r
        for r in tx.chunk_documents(df, chunk_tokens=64, overlap=16).collect()
    }
    # 100 tokens, stride 48: ceil((100-16)/48)=2 chunks; second starts at 48
    assert {(1, 0), (1, 1), (2, 0)} == set(chunks)
    assert chunks[(1, 0)].n_chunk_tokens == 64
    assert chunks[(1, 0)].chunk_text.startswith("w0 ")
    assert chunks[(1, 1)].chunk_text.startswith("w48 ")
    assert chunks[(1, 1)].n_chunk_tokens == 52  # 100 - 48
    assert chunks[(2, 0)].chunk_text == "short doc"
    with pytest.raises(ValueError):
        tx.chunk_documents(df, chunk_tokens=16, overlap=16)


def test_top_ngrams(docs):
    top = tx.top_ngrams(docs, n=2, k=5).collect()
    assert top[0].ngram in ("quick brown", "brown fox", "fox jumps", "jumps over",
                            "over the", "the quick", "the lazy")
    assert top[0].n_docs == 3  # docs 0, 1, 3 share the fox prefix
    assert all(r.n_occurrences >= r.n_docs for r in top)


def test_top_ngrams_combiner_matches_expression_form(spark):
    """The mapInArrow combiner (optimization r13 default) must reproduce the
    pure-expression twin byte-for-byte, including the whitespace edges where
    Python and Java split semantics could diverge: tabs/newlines inside text
    (Java \\s is the ASCII class), trailing newline after a space-only trim
    (limit=-1 keeps the trailing empty field on both sides), whitespace-only
    and empty and NULL texts, and a doc shorter than n."""
    rows = [
        (0, "a b\tc\nd  e a b"),      # mixed ASCII whitespace, repeat gram
        (1, " a b c \n"),             # trim strips spaces, NOT the newline
        (2, "\t\n "),                  # whitespace-only -> no grams
        (3, ""),                       # empty -> no grams
        (4, None),                     # NULL text
        (5, "single"),                 # shorter than n
        (6, "a\u00a0b c d"),          # NBSP is NOT Java \s: one token "a\xa0b"
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = tx.top_ngrams(df, n=2, k=50, combiner=True).collect()
    want = tx.top_ngrams(df, n=2, k=50, combiner=False).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert any(r.ngram == "a b" and r.n_docs == 2 for r in got)


def test_top_ngrams_combiner_flush_path(spark, monkeypatch):
    """r14 state bound: with the flush threshold forced to 2 distinct
    grams, every task emits several partial batches and the same gram
    appears in multiple partials — the downstream sum-aggregate must
    absorb them into results identical to the unbounded (expression)
    form. Uses the combiner-parity corpus plus repeats so flushes
    actually split a gram's occurrences."""
    monkeypatch.setenv("SPARK_GRAFT_TOP_NGRAMS_FLUSH", "2")
    rows = [
        (0, "a b c d e f g"),          # 6 bigrams -> 3 flushes in one doc's task
        (1, "a b c d"),                 # repeats grams of doc 0
        (2, "a b x y a b"),             # within-doc repeat across flush windows
        (3, None),
        (4, "q r"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    got = tx.top_ngrams(df, n=2, k=50, combiner=True).collect()
    monkeypatch.delenv("SPARK_GRAFT_TOP_NGRAMS_FLUSH")
    want = tx.top_ngrams(df, n=2, k=50, combiner=False).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    ab = [r for r in got if r.ngram == "a b"]
    assert ab and ab[0].n_docs == 3 and ab[0].n_occurrences == 4


def test_quality_kernel_matches_expression(spark):
    """The Arrow quality kernel (optimization r14, the large-corpus serving
    shape behind plans/catalog_llm._quality_kernel_gate) must reproduce the
    JVM expression's e4 score EXACTLY on every edge the parity ledger
    names: NULL/empty/whitespace-only text, non-space whitespace that
    survives Spark's space-only trim (leading/trailing empty split
    fields), adjacent stop markers sharing one bounding whitespace, NBSP
    (whitespace in neither engine), non-ASCII and astral code points
    (code-point length on both sides), the 500-char length-component cap,
    and punctuation-only text."""
    rows = [
        (0, None),
        (1, ""),
        (2, " "),
        (3, "\t\n\x0b\f\r"),
        (4, "the"),
        (5, " the "),
        (6, "of the and to in"),        # adjacent markers
        (7, "\tthe and\t"),             # leading/trailing empty fields
        (8, "a the b"),       # NBSP: one token, zero stop hits
        (9, "naïve café, cliché! 𝄞 the 𝄞"),
        (10, "x" * 600),                # length cap
        (11, ".,;:!?.,;:!?"),           # punctuation-only
        (12, "word " * 120 + "the."),   # long mixed
        (13, "the  and\n\nof"),         # multi-whitespace runs
        (14, "The AND Of"),             # markers are case-sensitive here
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    expr = df.select(
        "doc_id", tx.quality_score_col(F.col("text")).alias("q")
    ).orderBy("doc_id").collect()
    kern = df.select(
        "doc_id", tx.quality_score_kernel_col(F.col("text")).alias("q")
    ).orderBy("doc_id").collect()
    assert [tuple(r) for r in kern] == [tuple(r) for r in expr]
    # NULL text: Spark least() SKIPS nulls, so the expression yields the
    # 8000 constant, not NULL — the kernel must reproduce that
    assert expr[0].q == 8000 and kern[0].q == 8000


def test_quality_kernel_gate_routes_by_size(monkeypatch, tmp_path):
    """The size gate serves the expression below 64 MiB, the kernel above,
    and honors the SPARK_GRAFT_QUALITY_KERNEL override in both directions."""
    from satsure_agri_datapipeline_spark.plans import catalog_llm as cl

    small = tmp_path / "small"
    small.mkdir()
    (small / "documents.parquet").write_bytes(b"x" * 1024)
    assert cl._quality_kernel_gate(small) is False
    monkeypatch.setenv("SPARK_GRAFT_QUALITY_KERNEL", "on")
    assert cl._quality_kernel_gate(small) is True
    monkeypatch.setenv("SPARK_GRAFT_QUALITY_KERNEL", "off")
    assert cl._quality_kernel_gate(small) is False
    monkeypatch.delenv("SPARK_GRAFT_QUALITY_KERNEL")
    monkeypatch.setattr(cl, "QUALITY_KERNEL_GATE_BYTES", 512)
    assert cl._quality_kernel_gate(small) is True


def test_tfidf_top_terms(docs):
    out = tx.tf_idf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {0, 1, 2, 3, 4}
    assert all(len(v) == 2 for v in by_doc.values())
    # doc 2's words appear nowhere else: tf=1, df=1 -> score 1_000_000 * 5
    top2 = by_doc[2][0]
    assert top2.tf == 1 and top2.df_docs == 1 and top2.score_ppm == 5_000_000
    # "the" appears twice per fox doc but in 3 docs: (2*1e6*5) div 3
    the = [r for r in out if r.term == "the"]
    assert the and all(r.score_ppm == (2 * 1_000_000 * 5) // 3 for r in the)
    # determinism: ties break on term lexicographically
    assert by_doc[2] == sorted(by_doc[2], key=lambda r: (-r.score_ppm, r.term))


def test_sampling_deterministic(docs):
    from satsure_agri_datapipeline_spark.operators import sampling as sp

    s1 = sorted(r.doc_id for r in sp.hash_sample(docs, 0.5, seed=1).collect())
    s2 = sorted(r.doc_id for r in sp.hash_sample(docs, 0.5, seed=1).collect())
    assert s1 == s2  # reproducible
    # a larger fraction is a superset (bucket predicate is monotone)
    s3 = sorted(r.doc_id for r in sp.hash_sample(docs, 0.9, seed=1).collect())
    assert set(s1) <= set(s3)

    strat = sp.stratified_sample(docs, ["lang"], k=2).collect()
    by_lang = {}
    for r in strat:
        by_lang.setdefault(r.lang, []).append(r.doc_id)
    assert len(by_lang["en"]) == 2  # 4 en docs capped at 2
    assert len(by_lang["de"]) == 1  # only 1 de doc


def test_l2_normalize(vectors):
    out = {r.vec_id: r for r in sim.l2_normalize(vectors).collect()}
    import math

    u = out[0].unit_vec
    assert math.isqrt(0) == 0  # noqa: keep math import used
    assert sum(x * x for x in u) == pytest.approx(1.0, abs=1e-9)
    # zero vector -> null unit_vec
    zdf = vectors.sparkSession.createDataFrame(
        [(99, [0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    z = sim.l2_normalize(zdf).first()
    assert z.unit_vec is None and z.l2_norm == 0.0


def test_quantize_int8(vectors):
    out = {r.vec_id: r for r in sim.quantize_int8(vectors).collect()}
    r0 = out[0]
    emb = {r.vec_id: r.embedding for r in vectors.collect()}[0]
    absmax = max(abs(x) for x in emb)
    assert r0.scale == pytest.approx(absmax / 127.0)
    assert max(abs(q) for q in r0.q) == 127  # the max component hits full range
    # dequantized values within half a step of the originals
    for x, q in zip(emb, r0.q):
        assert abs(q * r0.scale - x) <= r0.scale / 2 + 1e-9


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! (x=1) "), (2, "..."), (3, None)],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in tx.normalize_text(df).collect()}
    assert out[1].norm_text == "hello world x1"
    assert out[1].n_tokens_norm == 3
    assert out[2].norm_text == "" and out[2].n_tokens_norm == 0
    assert out[3].norm_text is None


def test_redact_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk or call +1 (555) 123-4567"),
            (2, "server at 192.168.0.1 is fine"),
            (3, "nothing sensitive here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in tx.redact_pii(df).collect()}
    assert "<EMAIL>" in out[1].redacted_text and "<PHONE>" in out[1].redacted_text
    assert "jane" not in out[1].redacted_text and "555" not in out[1].redacted_text
    assert out[1].n_redactions == 2
    assert out[2].redacted_text == "server at <IP> is fine"
    assert out[3].n_redactions == 0


def test_corpus_mix_report(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c", "en", "web"),
            (2, "d e", "en", "web"),
            (3, "f g h i j", "de", "book"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {(r.lang, r.source): r for r in tx.corpus_mix_report(df).collect()}
    assert rows[("en", "web")].n_docs == 2
    assert rows[("en", "web")].n_tokens == 5
    assert rows[("en", "web")].token_share_e6 == 500000
    assert rows[("de", "book")].token_share_e6 == 500000


def test_kmeans_fit_and_assign(vectors):
    cent = sim.kmeans_fit(vectors, k=4, iterations=2)
    rows = cent.collect()
    assert sorted(r.cluster_id for r in rows) == [0, 1, 2, 3]
    dim = len(rows[0].centroid)
    assert all(len(r.centroid) == dim for r in rows)

    assigned = sim.kmeans_assign(vectors, cent)
    out = assigned.collect()
    assert len(out) == 50 and all(0 <= r.cluster_id < 4 for r in out)
    # every vector really is nearest (tie -> lowest id) to its centroid
    cmap = {r.cluster_id: r.centroid for r in rows}
    for r in out:
        dists = {
            c: sum((float(x) - y) ** 2 for x, y in zip(r.embedding, v))
            for c, v in cmap.items()
        }
        best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))[0]
        assert r.cluster_id == best

    # determinism: refit gives identical centroids
    again = sim.kmeans_fit(vectors, k=4, iterations=2).collect()
    assert {r.cluster_id: r.centroid for r in again} == cmap


def test_semantic_dedup(vectors):
    cent = sim.kmeans_fit(vectors, k=4, iterations=2)
    assigned = {r.vec_id: r.cluster_id for r in sim.kmeans_assign(vectors, cent).collect()}
    out = sim.semantic_dedup(vectors, k=4, iterations=2).collect()
    # one keeper per non-empty cluster; sizes partition the corpus
    assert sum(r.n_vectors for r in out) == 50
    assert len({r.cluster_id for r in out}) == len(out)
    for r in out:
        # the keeper belongs to the cluster it represents
        assert assigned[r.keeper_vec_id] == r.cluster_id
        assert r.keeper_dist >= 0.0
    # deterministic across invocations
    again = sim.semantic_dedup(vectors, k=4, iterations=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_kmeans_empty_cluster_keeps_seed(spark):
    # 3 distinct points, k=3, but two seeds may collapse onto one cluster;
    # every cluster id must still have a centroid after fitting
    rows = [(i, [0.0, 0.0]) for i in range(5)] + [(5, [10.0, 0.0]), (6, [0.0, 10.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = sim.kmeans_fit(df, k=3, iterations=2).collect()
    assert sorted(r.cluster_id for r in cent) == [0, 1, 2]
    assert all(r.centroid is not None for r in cent)


def test_ivf_kmeans_recall(vectors):
    exact = {r.vec_id for r in sim.brute_force_topk_to(vectors, 0, k=5).collect()}
    approx = [
        r
        for r in sim.ivf_topk_kmeans(
            vectors, query_id=0, k=5, n_clusters=4, nprobe=2
        ).collect()
    ]
    assert len(approx) == 5
    assert all(r.vec_id != 0 for r in approx)
    sims = [r.cosine_sim for r in approx]
    assert sims == sorted(sims, reverse=True)
    assert len(exact & {r.vec_id for r in approx}) >= 3  # decent recall


def test_pq_fit_and_encode(vectors):
    # dim-4 vectors, m=2 subspaces of 2 dims, 4 codewords each
    cb = sim.pq_fit(vectors, m=2, k=4, iterations=2)
    rows = cb.collect()
    assert {(r.subspace, r.cluster_id) for r in rows} == {
        (s, c) for s in range(2) for c in range(4)
    }
    assert all(len(r.centroid) == 2 for r in rows)

    codes = sim.pq_encode(vectors, cb, m=2).collect()
    assert len(codes) == 50
    assert all(len(r.codes) == 2 for r in codes)
    # each sub-vector really is nearest (tie -> lowest code) its codeword
    cmap = {(r.subspace, r.cluster_id): r.centroid for r in rows}
    emb = {r.vec_id: [float(x) for x in r.embedding] for r in vectors.collect()}
    for r in codes:
        for s, code in enumerate(r.codes):
            sv = emb[r.vec_id][s * 2 : s * 2 + 2]
            dists = {
                c: sum((x - y) ** 2 for x, y in zip(sv, cmap[(s, c)]))
                for c in range(4)
            }
            best = min(dists.items(), key=lambda kv: (kv[1], kv[0]))[0]
            assert code == best

    # determinism: refit gives identical codebooks
    again = {(r.subspace, r.cluster_id): r.centroid
             for r in sim.pq_fit(vectors, m=2, k=4, iterations=2).collect()}
    assert again == cmap


def test_pq_adc_matches_hand_lut(vectors):
    cb = sim.pq_fit(vectors, m=2, k=4, iterations=2)
    codes = {r.vec_id: r.codes for r in sim.pq_encode(vectors, cb, m=2).collect()}
    cmap = {(r.subspace, r.cluster_id): r.centroid for r in cb.collect()}
    q = [float(x) for x in {
        r.vec_id: r.embedding for r in vectors.collect()
    }[0]]
    lut = {
        (s, c): sum((x - y) ** 2 for x, y in zip(q[s * 2 : s * 2 + 2], v))
        for (s, c), v in cmap.items()
    }
    expect = {
        vid: round(sum(lut[(s, code)] for s, code in enumerate(cs)), 6)
        for vid, cs in codes.items()
        if vid != 0
    }
    got = sim.pq_topk_adc(vectors, query_id=0, k=10, m=2, n_codes=4).collect()
    dists = [r.adc_dist for r in got]
    assert dists == sorted(dists)
    for r in got:
        assert r.adc_dist == pytest.approx(expect[r.vec_id], abs=1e-6)
    # the operator's top-10 is the true ADC top-10 (ties -> smaller id)
    want = sorted(expect.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    assert [r.vec_id for r in got] == [vid for vid, _ in want]


def test_pq_dim_guard_raises(spark):
    # the raise surfaces as SparkRuntimeException or a raw Py4JJavaError
    # depending on session state — match on the guard message instead
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [4.0, 5.0, 6.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="not divisible"):
        sim.pq_fit(df, m=2, k=2, iterations=1).collect()


def test_ivfpq_restricts_to_probed_cells(vectors):
    # the composed search must (a) rank by the SAME ADC distances the pure
    # PQ path computes and (b) only ever return vectors from probed cells
    cent = sim.kmeans_fit(vectors, k=4, iterations=2)
    assigned = {
        r.vec_id: r.cluster_id
        for r in sim.kmeans_assign(vectors, cent).collect()
    }
    full_adc = {
        r.vec_id: r.adc_dist
        for r in sim.pq_topk_adc(
            vectors, query_id=0, k=50, m=2, n_codes=8
        ).collect()
    }
    got = sim.ivfpq_topk(
        vectors, query_id=0, k=5, n_clusters=4, nprobe=2, m=2, n_codes=8
    ).collect()
    assert len(got) == 5
    dists = [r.adc_dist for r in got]
    assert dists == sorted(dists)
    probed_cells = {assigned[r.vec_id] for r in got}
    assert len(probed_cells) <= 2  # nprobe=2
    for r in got:
        assert r.adc_dist == pytest.approx(full_adc[r.vec_id], abs=1e-6)
    # deterministic across invocations
    again = sim.ivfpq_topk(
        vectors, query_id=0, k=5, n_clusters=4, nprobe=2, m=2, n_codes=8
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]


def test_pq_recall_eval_bounds(vectors):
    row = sim.pq_recall_eval(
        vectors, query_id=0, k=5, m=2, n_codes=8, iterations=2
    ).collect()[0]
    assert row.n_truth == 5
    assert 0 <= row.n_hits <= 5
    assert row.recall_e4 == row.n_hits * 10000 // 5
    # the toy set's 10 angle groups separate cleanly under 8 codewords per
    # 2-dim subspace (measured: recall@5 = 1.0; 4 codewords give 0.4) —
    # deterministic, so the bound is stable
    assert row.n_hits >= 4


def test_quantile_buckets(spark):
    from satsure_agri_datapipeline_spark.operators import sampling as sp2

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, x double")
    out = sp2.quantile_buckets(df, "x", n_buckets=4).collect()
    buckets = {}
    for r in out:
        buckets.setdefault(r.bucket, []).append(r.x)
    assert set(buckets) == {1, 2, 3, 4}
    assert max(buckets[1]) < min(buckets[2]) < max(buckets[2]) < min(buckets[3])
    assert abs(len(buckets[1]) - 25) <= 1  # near-equal counts on uniform data
    # approx variant buckets every row too
    n_approx = sp2.quantile_buckets(df, "x", n_buckets=4, approx=True).count()
    assert n_approx == 100


def test_salted_join_equals_plain_join(spark):
    from satsure_agri_datapipeline_spark.operators.joins import salted_join

    # heavy skew: 90% of fact rows share key 0
    fact = spark.range(0, 1000).selectExpr(
        "id AS row_id", "CASE WHEN id % 10 = 0 THEN id % 5 ELSE 0 END AS k"
    )
    dim = spark.createDataFrame([(i, f"name_{i}") for i in range(5)], "k long, name string")

    plain = fact.join(dim, ["k"]).orderBy("row_id").collect()
    salted = salted_join(fact, dim, ["k"], n_salts=8).orderBy("row_id").collect()
    assert salted == plain

    # left join preserves unmatched rows exactly once
    dim_partial = dim.where("k < 2")
    plain_l = fact.join(dim_partial, ["k"], "left").orderBy("row_id").collect()
    salted_l = salted_join(fact, dim_partial, ["k"], how="left", n_salts=8).orderBy("row_id").collect()
    assert salted_l == plain_l

    with pytest.raises(ValueError):
        salted_join(fact, dim, ["k"], how="right")


def test_decontaminate_flags_overlapping_docs(spark):
    from satsure_agri_datapipeline_spark.operators import text as tx

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains bench 4-gram
            (2, "one two three four five six seven"),    # clean
            (3, "beta gamma delta epsilon something else"),  # same 4-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "xxx beta gamma delta epsilon yyy")], "doc_id long, text string"
    )
    hits = {r.doc_id: r.n_hits for r in tx.decontaminate(train, bench, n=4).collect()}
    assert hits == {1: 1, 3: 1}
    # min_hits raises the bar
    assert tx.decontaminate(train, bench, n=4, min_hits=2).count() == 0


def test_decontaminate_bench_exploded_matches_raw_benchmark(spark):
    """r13 optimization: a pre-exploded (id, sh) relation for the BENCHMARK
    side (the decon-store restriction path) must yield byte-identical hits
    to hashing the benchmark text per run."""
    from pyspark.sql import functions as F

    from satsure_agri_datapipeline_spark.operators import text as tx
    from satsure_agri_datapipeline_spark.operators.dedup import shingle_hash_arrays

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "one two three four five six seven"),
            (3, "beta gamma delta epsilon something else"),
            (4, ""),  # empty doc: no shingles either way
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [
            (100, "xxx beta gamma delta epsilon yyy"),
            (101, "one two three four five ALIEN tokens"),
            (102, "   "),  # whitespace-only benchmark doc
        ],
        "doc_id long, text string",
    )
    # what a fresh n=4 decon store restricted to the benchmark ids serves
    bench_rel = (
        shingle_hash_arrays(bench, n=4)
        .select("doc_id", F.explode_outer("shs").alias("sh"))
        .where(F.col("sh").isNotNull())
    )
    raw = sorted(map(tuple, tx.decontaminate(train, bench, n=4).collect()))
    served = sorted(
        map(tuple, tx.decontaminate(train, bench, n=4, bench_exploded=bench_rel).collect())
    )
    assert served == raw and len(raw) > 0


def test_repetition_stats_exact_values(spark):
    from satsure_agri_datapipeline_spark.operators import text as tx

    df = spark.createDataFrame(
        [
            (1, "a a a a b"),        # top token 4/5, bigrams: aa aa aa ab -> 2 distinct of 4
            (2, "w x y z"),          # no repetition
            (3, "solo"),             # single token, no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in tx.repetition_stats(df).collect()}
    r1 = rows[1]
    assert (r1.n_tokens, r1.distinct_ratio_e4, r1.top_token_ratio_e4) == (5, 4000, 8000)
    assert r1.dup_bigram_ratio_e4 == 5000 and r1.repetitive
    r2 = rows[2]
    assert (r2.n_tokens, r2.distinct_ratio_e4, r2.top_token_ratio_e4) == (4, 10000, 2500)
    assert r2.dup_bigram_ratio_e4 == 0 and r2.repetitive  # 2500 > 2000 threshold
    r3 = rows[3]
    assert (r3.n_tokens, r3.dup_bigram_ratio_e4) == (1, 0)


def test_resize_images_deterministic_shape(spark):
    from satsure_agri_datapipeline_spark.operators.multimodal import (
        _fake_resize,
        resize_images,
    )

    df = spark.createDataFrame(
        [(1, bytes(range(100))), (2, b"abc"), (3, b"")],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: r for r in resize_images(df, width=4, height=2).collect()}
    assert all(len(r.resized) == 8 for r in rows.values())
    assert rows[1].n_bytes_in == 100
    # downsample picks evenly spaced bytes; upsample repeats; empty pads zeros
    assert bytes(rows[1].resized) == _fake_resize(bytes(range(100)), 4, 2)
    assert bytes(rows[2].resized) == _fake_resize(b"abc", 4, 2)
    assert bytes(rows[3].resized) == b"\x00" * 8


def test_token_stats_bpe_regex(spark):
    from satsure_agri_datapipeline_spark.operators.text import token_stats

    df = spark.createDataFrame(
        [(1, "hello world, it's 42 degrees!")], "doc_id long, text string"
    )
    r = token_stats(df).collect()[0]
    # hello | world | , | it | ' | s | 42 | degrees | !
    assert r.bpe_regex_tokens == 9
    assert r.n_tokens == 5


def test_curation_pipeline_stages_monotonic(spark):
    from pyspark.sql import functions as F

    from satsure_agri_datapipeline_spark.plans.curation import (
        curate_corpus,
        curation_stats,
    )
    from satsure_agri_datapipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)

    stats = curation_stats(docs, bench, min_quality_e4=5000)
    assert (
        stats["input"]
        >= stats["after_quality_and_exact"]
        >= stats["after_near_dup"]
        >= stats["after_decontaminate"]
    )
    assert stats["after_decontaminate"] > 0

    kept = curate_corpus(docs, bench, min_quality_e4=5000)
    ids = [r.doc_id for r in kept.select("doc_id").collect()]
    assert len(ids) == stats["after_decontaminate"]
    assert len(set(ids)) == len(ids)
    # benchmark members never survive (they share all their own n-grams)
    bench_ids = {r.doc_id for r in bench.select("doc_id").collect()}
    assert not (set(ids) & bench_ids)


def test_quantized_topk_matches_exact_ranking(spark):
    # int8 quantization error (~0.4% max) must not reorder well-separated
    # neighbors: the quantized top-k of a clean synthetic corpus equals the
    # exact top-k id ranking; zero vectors are excluded, not NaN-ranked.
    from satsure_agri_datapipeline_spark.operators.similarity import (
        brute_force_topk_to,
        quantized_topk_to,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest
        (2, [0.5, 0.5, 0.0, 0.0]),   # second
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal
        (4, [0.0, 0.0, 0.0, 0.0]),   # zero vector -> excluded
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = [r.vec_id for r in brute_force_topk_to(df, 0, k=3).collect()]
    quant = [r.vec_id for r in quantized_topk_to(df, 0, k=3).collect()]
    assert exact == quant == [1, 2, 3]
    assert 4 not in quant


def test_lsh_dedup_eval_counts(spark):
    # near-identical docs (one word changed in 30) must be found by BOTH
    # the exact jaccard pairs and the LSH candidates -> tp counted; the
    # unrelated doc must appear in neither. precision/recall come out of
    # one full-outer pair join, not separate count jobs.
    from satsure_agri_datapipeline_spark.operators.dedup import lsh_dedup_eval

    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" if i != 29 else "CHANGED" for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    r = lsh_dedup_eval(df, threshold=0.5).collect()[0]
    assert r.n_exact == 1 and r.true_pos == 1
    assert r.recall_e4 == 10000
    assert r.n_lsh >= 1 and r.precision_e4 > 0
    # empty corpus: all-zero counters, no NULLs, no division error
    empty = spark.createDataFrame([], "doc_id long, text string")
    z = lsh_dedup_eval(empty).collect()[0]
    assert (z.n_exact, z.n_lsh, z.true_pos, z.precision_e4, z.recall_e4) == (
        0, 0, 0, 0, 0,
    )


def test_curation_stats_single_action(spark):
    # curation_stats must collect every stage counter from ONE action via
    # CollectMetrics — not one count() job per stage. Guard: its total Spark
    # job count stays within a couple of the bare pipeline write (AQE spawns
    # sub-jobs per exchange, identically for both), far below the ~4x of the
    # count-per-stage formulation.
    from pyspark.sql import functions as F

    from satsure_agri_datapipeline_spark.plans.curation import (
        curate_corpus,
        curation_stats,
    )
    from satsure_agri_datapipeline_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    tracker = spark.sparkContext.statusTracker()

    def jobs_during(fn):
        before = max(tracker.getJobIdsForGroup(None) or [-1])
        fn()
        return max(tracker.getJobIdsForGroup(None) or [-1]) - before

    base = jobs_during(
        lambda: curate_corpus(docs, bench, min_quality_e4=5000)
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    stats_holder = {}
    with_stats = jobs_during(
        lambda: stats_holder.update(
            curation_stats(docs, bench, min_quality_e4=5000)
        )
    )
    assert with_stats <= base + 2
    assert stats_holder["input"] >= stats_holder["after_quality_and_exact"]
    # The 'input' Observation is attached to a relation consumed by TWO plan
    # subtrees; current Spark deduplicates the CollectMetrics accumulator
    # across the fan-out (both physical instances count the full pass and the
    # name-keyed map picks one). That is version-sensitive undocumented
    # behavior — pin the observed count to the true row count so a Spark
    # upgrade that double-counts or drops duplicated CollectMetrics nodes
    # fails HERE, not silently in production counters.
    assert stats_holder["input"] == docs.count()


def test_pack_sequences_contiguous_stream(spark):
    from collections import defaultdict

    from satsure_agri_datapipeline_spark.operators import sampling as sp2

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (5 + i % 7))) for i in range(60)],
        "doc_id long, text string",
    )
    rows = sp2.pack_sequences(docs, seq_len=16, n_shards=4).collect()
    assert len(rows) == 60
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[r.shard].append(r)
    for shard_rows in by_shard.values():
        # reconstruct the stream: start positions must be exactly cumulative
        shard_rows.sort(key=lambda r: (r.bin, r.offset, r.doc_id))
        pos = 0
        for r in shard_rows:
            assert r.bin * 16 + r.offset == pos
            pos += r.n_tokens
    # determinism under repartitioning
    again = sp2.pack_sequences(docs.repartition(7), seq_len=16, n_shards=4).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))


def test_connected_components_paths_agree(spark):
    from satsure_agri_datapipeline_spark.operators import dedup as dd2

    # chain 0-1-2-3-4, clique {10,11,12}, isolated pair (20,21)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long",
    )
    via_driver = {
        (r.node_id, r.component_id)
        for r in dd2.connected_components(edges).collect()
    }
    via_distributed = {
        (r.node_id, r.component_id)
        for r in dd2.connected_components(edges, driver_threshold=0).collect()
    }
    assert via_driver == via_distributed
    assert {(n, c) for n, c in via_driver if c == 0} == {
        (0, 0), (1, 0), (2, 0), (3, 0), (4, 0)
    }
    assert {(n, c) for n, c in via_driver if c == 10} == {(10, 10), (11, 10), (12, 10)}
    assert {(n, c) for n, c in via_driver if c == 20} == {(20, 20), (21, 20)}

    # threshold boundary: n_edges == threshold takes the Arrow-collect driver
    # path, n_edges == threshold+1 takes the distributed loop; identical labels
    n = 8
    at_boundary = {
        (r.node_id, r.component_id)
        for r in dd2.connected_components(edges, driver_threshold=n).collect()
    }
    below_boundary = {
        (r.node_id, r.component_id)
        for r in dd2.connected_components(edges, driver_threshold=n - 1).collect()
    }
    assert at_boundary == below_boundary == via_driver


def test_span_udtf_lateral_join(spark):
    from satsure_agri_datapipeline_spark.operators.text import span_udtf

    spark.udtf.register("doc_spans", span_udtf())
    spark.createDataFrame(
        [(1, "Hello world. How are you? Fine"), (2, ""), (3, "No punctuation here")],
        "doc_id long, text string",
    ).createOrReplaceTempView("__udtf_docs")
    rows = spark.sql(
        "SELECT s.* FROM __udtf_docs, LATERAL doc_spans(doc_id, text) s ORDER BY doc_id, span_no"
    ).collect()
    spans = [(r.doc_id, r.span_no, r.span) for r in rows]
    assert spans == [
        (1, 0, "Hello world."),
        (1, 1, "How are you?"),
        (1, 2, "Fine"),
        (3, 0, "No punctuation here"),
    ]
    # offsets reconstruct the original slices
    for r in rows:
        assert r.length > 0 and r.start >= 0


def test_domain_mix_weights(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i", "en", "web"),     # 9 tokens
            (2, "a b c d e f g", "en", "web"),          # 7 -> web 16
            (3, "a b c d", "de", "book"),               # 4 -> book 4
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {(r.lang, r.source): r for r in tx.domain_mix_weights(df).collect()}
    # T=2: sqrt(16)=4, sqrt(4)=2 -> weights 2/3 and 1/3
    assert rows[("en", "web")].weight_e6 == 666667
    assert rows[("de", "book")].weight_e6 == 333333
    # T=1 reproduces natural token shares: 16/20 and 4/20
    nat = {(r.lang, r.source): r for r in tx.domain_mix_weights(df, temperature=1.0).collect()}
    assert nat[("en", "web")].weight_e6 == 800000
    assert nat[("de", "book")].weight_e6 == 200000


def test_containment_catches_embedded_short_doc(spark):
    """A short doc wholly contained in a long one: containment = 1.0 while
    Jaccard stays below a 0.5 threshold — the case the symmetric signal
    misses (dedup.containment_pairs docstring)."""
    from satsure_agri_datapipeline_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
        release,
    )

    short = " ".join(f"w{i}" for i in range(12))          # 10 3-gram shingles
    long = short + " " + " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id int, text string"
    )
    cp = containment_pairs(docs, n=3, threshold_e4=8000)
    [r] = cp.collect()
    assert (r.id_a, r.id_b, r.containment_e4) == (1, 2, 10000)
    release(cp)

    jp = ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    assert jp.count() == 0  # symmetric Jaccard misses it
    release(jp)


def test_rare_term_pairs_blocks_on_distinctive_grams(spark):
    """Docs sharing a distinctive 3-gram pair up; a gram above the df cap
    (here: shared by ALL docs) is excluded before the join
    (dedup.rare_term_pairs)."""
    from satsure_agri_datapipeline_spark.operators.dedup import rare_term_pairs

    common = "alpha beta gamma"  # in every doc -> df=4 > max_df=3
    df = spark.createDataFrame(
        [
            (1, f"{common} unique phrase one"),
            (2, f"{common} unique phrase one"),   # shares rare grams with 1
            (3, f"{common} totally different text"),
            (4, f"{common} yet another thing"),
        ],
        "doc_id int, text string",
    )
    out = rare_term_pairs(df, n=3, max_df=3, top_n=10).collect()
    assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]
    assert out[0].shared_terms > 0 and out[0].score > 0


def test_weighted_sample_favors_heavy_rows_and_is_deterministic(spark):
    from satsure_agri_datapipeline_spark.operators.sampling import weighted_sample

    rows = [(i, 1) for i in range(100)] + [(999, 1_000_000)]
    df = spark.createDataFrame(rows, "doc_id int, w int")
    picked1 = {r.doc_id for r in weighted_sample(df, "w", k=5, seed=11).collect()}
    picked2 = {r.doc_id for r in weighted_sample(df, "w", k=5, seed=11).collect()}
    assert picked1 == picked2 and len(picked1) == 5  # pure function of (ids, w, seed)
    # priority = hash/w: the million-weight row's priority is ~1e6 smaller
    assert 999 in picked1


def test_weighted_sample_enforces_positive_integer_weight_contract(spark):
    """Weights < 1, zero, NULL, or fractional-truncating-to-zero must be
    EXCLUDED, not inverted into always-win priorities (round-3 advice:
    BIGINT div by 0 yields NULL → NULLS FIRST selected such rows first)."""
    from satsure_agri_datapipeline_spark.operators.sampling import weighted_sample

    rows = [(1, 5.0), (2, 0.0), (3, None), (4, 0.7), (5, 3.0), (6, 2.0)]
    df = spark.createDataFrame(rows, "doc_id int, w double")
    picked = {r.doc_id for r in weighted_sample(df, "w", k=10, seed=3).collect()}
    assert picked == {1, 5, 6}  # zero / null / fractional<1 never selected

    # top-k plan: orderBy().limit(k) lowers to TakeOrderedAndProject — no
    # single-partition global-sort window (round-3 advice)
    plan = weighted_sample(df, "w", k=2, seed=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_triangle_count_on_known_graph(spark):
    from satsure_agri_datapipeline_spark.operators.dedup import triangle_count

    # K3 (1,2,3) + pendant edge (3,4): 3 edges in the triangle + 1 extra
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (2, 3)],  # duplicate + unordered edges
        "id_a int, id_b int",
    )
    [r] = triangle_count(pairs).collect()
    assert (r.n_edges, r.n_triangles) == (4, 1)
    # wedges: (1,2,3),(1,3,4)... a<c ordering: exactly 2 closed/unclosed paths
    assert r.n_wedges >= r.n_triangles


def test_distributed_rank_matches_window_row_number(spark):
    """Two-phase bucketed ranking must equal ROW_NUMBER() OVER (PARTITION BY
    grp ORDER BY v, id) — including ties, skewed groups, and null group
    keys (their own group, like a window null partition)."""
    import random

    from pyspark.sql import Window
    from satsure_agri_datapipeline_spark.operators.joins import distributed_rank

    random.seed(7)
    rows = [(i, "hot" if i % 10 else None, float(random.randint(0, 50))) for i in range(500)]
    rows += [(1000 + i, "cold", float(i)) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, grp string, v double")

    got = {
        (r.id): r.rank
        for r in distributed_rank(
            df, "v", group_cols=["grp"], tiebreak_cols=["id"], n_buckets=8
        ).collect()
    }
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = {r.id: r.rn for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_distributed_rank_high_cardinality_falls_back_to_window(spark):
    """Contract guard: with MANY groups (here 20k ≫ the 10k max_groups
    cutoff) the operator must NOT build its O(groups × n_buckets) offsets
    broadcast — it falls back to the plain per-group window, which is the
    right plan in that regime. Asserts both the plan shape (no __bucket
    machinery survives into the physical plan) and exact rank equality."""
    from pyspark.sql import Window
    from satsure_agri_datapipeline_spark.operators.joins import distributed_rank

    df = spark.range(40_000).select(
        F.col("id"),
        (F.col("id") % 20_000).alias("grp"),
        (F.col("id") * 2654435761 % 97).cast("double").alias("v"),
    )
    out = distributed_rank(
        df, "v", group_cols=["grp"], tiebreak_cols=["id"], n_buckets=8
    )
    assert "__bucket" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r.id: r.rank for r in out.collect()}
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = {r.id: r.rn for r in df.withColumn("rn", F.row_number().over(w)).collect()}
    assert got == want


def test_distributed_rank_global_no_groups(spark):
    from satsure_agri_datapipeline_spark.operators.joins import distributed_rank

    df = spark.createDataFrame(
        [(i, float(i % 5)) for i in range(100)], "id long, v double"
    )
    out = distributed_rank(df, "v", tiebreak_cols=["id"], n_buckets=4).collect()
    ranks = sorted(r.rank for r in out)
    assert ranks == list(range(1, 101))
    by_rank = sorted(out, key=lambda r: r.rank)
    assert all(
        (a.v, a.id) <= (b.v, b.id) for a, b in zip(by_rank, by_rank[1:])
    )


def test_distributed_ntile_matches_window_ntile(spark):
    """Closed-form tile from (rank, group count) must equal NTILE() OVER —
    including the uneven-division case (first c%n tiles one row larger) and
    groups smaller than n."""
    from pyspark.sql import Window
    from satsure_agri_datapipeline_spark.operators.joins import distributed_ntile

    rows = [(i, "a", float(i * 7 % 13)) for i in range(47)]  # 47 % 4 = 3
    rows += [(100 + i, "tiny", float(i)) for i in range(2)]  # group < n
    df = spark.createDataFrame(rows, "id long, grp string, v double")
    got = {
        r.id: r.tile
        for r in distributed_ntile(
            df, 4, "v", group_cols=["grp"], tiebreak_cols=["id"], n_buckets=8
        ).collect()
    }
    w = Window.partitionBy("grp").orderBy("v", "id")
    want = {r.id: r.nt for r in df.withColumn("nt", F.ntile(4).over(w)).collect()}
    assert got == want


def test_semantic_decontaminate_flags_paraphrase_leak(spark):
    """A corpus vector identical (or near-identical) to an eval vector must
    flag as contaminated with that eval id; orthogonal vectors must not."""
    from satsure_agri_datapipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0]), (101, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (1, [0.999, 0.01, 0.0]),  # ~eval 100
            (2, [0.0, 0.0, 1.0]),     # orthogonal to both
            (3, [0.0, 2.0, 0.0]),     # scaled copy of eval 101
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in semantic_decontaminate(corpus, ev, threshold=0.95).collect()}
    assert out[1].contaminated and out[1].matched_eval_id == 100
    assert not out[2].contaminated
    assert out[3].contaminated and out[3].matched_eval_id == 101
    assert out[3].max_cosine == 1.0  # cosine is scale-invariant


def test_pagerank_fixed_point_matches_reference(spark):
    """Integer fixed-point PageRank must reproduce the same recurrence
    computed in plain Python, and rank hubs above leaves."""
    from satsure_agri_datapipeline_spark.operators.graph import (
        SCALE,
        pagerank_fixed_point,
    )

    edges = [(1, 0, 3), (2, 0, 1), (3, 0, 2), (0, 1, 1), (2, 3, 1)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {
        r.node_id: r.rank_e9
        for r in pagerank_fixed_point(df, weight_col="w", iterations=3).collect()
    }

    out_w = {}
    for s, d, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    nodes = {n for e in edges for n in e[:2]}
    r = {n: SCALE for n in nodes}
    teleport = 15 * SCALE // 100
    for _ in range(3):
        nxt = {n: teleport for n in nodes}
        for s, d, w in edges:
            nxt[d] += (85 * r[s] * w) // (100 * out_w[s])
        r = nxt
    assert got == r
    assert got[0] == max(got.values())  # the hub


def test_semantic_decontaminate_null_and_zero_norm_vectors(spark):
    """A NULL or zero-norm corpus embedding has no defined cosine: the row
    must surface NULL max_cosine / not-contaminated — never the -2.0 fold
    sentinel, and never NaN (which Spark orders ABOVE every double, so an
    unguarded max would flag spurious contamination)."""
    from satsure_agri_datapipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),   # exact leak
            (2, None),         # NULL embedding
            (3, [0.0, 0.0]),   # zero norm → 0/0 = NaN cosine
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in semantic_decontaminate(corpus, ev).collect()}
    assert out[1].contaminated and out[1].max_cosine == 1.0
    for vid in (2, 3):
        assert out[vid].max_cosine is None, vid
        assert out[vid].matched_eval_id is None, vid
        assert not out[vid].contaminated, vid

    # zero-norm EVAL vector alongside a valid one: the NaN cosine against it
    # must not displace the valid match
    ev2 = spark.createDataFrame(
        [(200, [0.0, 0.0]), (201, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    row = semantic_decontaminate(
        spark.createDataFrame([(9, [0.0, 2.0])], "vec_id long, embedding array<float>"),
        ev2,
    ).collect()[0]
    assert row.matched_eval_id == 201 and row.max_cosine == 1.0 and row.contaminated


def test_pagerank_contribution_no_bigint_overflow(spark):
    """damping * rank * w must not wrap BIGINT for large weights: with
    w = 1e12 the naive numerator is 8.5e22 >> 2^63; the DECIMAL(38,0) path
    still yields the exact integral quotient."""
    from satsure_agri_datapipeline_spark.operators.graph import (
        SCALE,
        pagerank_fixed_point,
    )

    w = 10**12
    df = spark.createDataFrame([(1, 2, w)], "src long, dst long, w long")
    got = {
        r.node_id: r.rank_e9
        for r in pagerank_fixed_point(df, weight_col="w", iterations=1).collect()
    }
    teleport = 15 * SCALE // 100
    assert got[2] == teleport + (85 * SCALE * w) // (100 * w)
    assert got[1] == teleport


def test_new_operators_handle_empty_inputs(spark):
    """Empty relations must flow through, not crash or leak sentinels."""
    from satsure_agri_datapipeline_spark.operators.graph import pagerank_fixed_point
    from satsure_agri_datapipeline_spark.operators.joins import (
        distributed_ntile,
        distributed_rank,
    )
    from satsure_agri_datapipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    empty = spark.createDataFrame([], "id long, grp string, v double")
    assert distributed_rank(empty, "v", ["grp"], ["id"]).count() == 0
    assert distributed_ntile(empty, 4, "v", ["grp"], ["id"]).count() == 0
    e = spark.createDataFrame([], "src long, dst long, w long")
    assert pagerank_fixed_point(e, weight_col="w").count() == 0
    no_emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    one = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<float>")
    assert semantic_decontaminate(no_emb, one).count() == 0
    row = semantic_decontaminate(one, no_emb).collect()[0]
    assert row.max_cosine is None and not row.contaminated


def test_incremental_dedup_two_batches(spark):
    """The store contract: batch 2 must reject docs whose text was accepted
    in batch 1, dedupe within itself, and return only NEW digests."""
    b1 = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id long, text string"
    )
    acc1, dig1 = dd.incremental_exact_dedup(b1, None)
    assert {r.doc_id for r in acc1.collect()} == {1, 2}  # 3 is a dup of 1

    b2 = spark.createDataFrame(
        [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")],
        "doc_id long, text string",
    )
    acc2, dig2 = dd.incremental_exact_dedup(b2, dig1)
    assert {r.doc_id for r in acc2.collect()} == {11, 13}  # beta seen, 12 dup
    # merged store accepts nothing from a replay of either batch
    store = dig1.union(dig2)
    acc3, _ = dd.incremental_exact_dedup(b1.union(b2), store)
    assert acc3.count() == 0


def test_char_shingle_jaccard_catches_word_boundary_edits(docs, spark):
    """Char shingles must see near-dups that word shingles miss: texts
    differing only by intra-word edits share most char 5-grams but few
    word 3-grams."""
    pair = spark.createDataFrame(
        [(0, "internationalization brings localization headaches"),
         (1, "internationalisation brings localisation headaches")],
        "doc_id long, text string",
    )
    char_pairs = dd.ngram_jaccard_pairs(pair, n=5, threshold=0.3, unit="char").collect()
    word_pairs = dd.ngram_jaccard_pairs(pair, n=3, threshold=0.3).collect()
    assert len(char_pairs) == 1 and char_pairs[0].jaccard > 0.3
    assert len(word_pairs) == 0  # every word 3-gram differs
    # too-short contract mirrors the word form
    short = spark.createDataFrame([(0, "abcd")], "doc_id long, text string")
    assert dd.shingle_hash_arrays(short, n=5, unit="char").collect()[0].shs == []


def test_incremental_minhash_dedup_two_batches(docs, spark):
    """Near-dup store contract: batch 2's near-dup of an accepted batch-1
    doc is rejected via the band store; novel docs pass; replay rejects."""
    b1 = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog and then naps")],
        "doc_id long, text string",
    )
    acc1, bands1 = dd.incremental_minhash_dedup(b1, None)
    assert {r.doc_id for r in acc1.collect()} == {0}

    b2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog and then naps"),
            (11, "completely unrelated sentence about databases and shuffles"),
        ],
        "doc_id long, text string",
    )
    acc2, bands2 = dd.incremental_minhash_dedup(b2, bands1)
    assert {r.doc_id for r in acc2.collect()} == {11}
    # replay of batch 2 against the merged store accepts nothing
    store = bands1.union(bands2)
    acc3, _ = dd.incremental_minhash_dedup(b2, store)
    assert acc3.count() == 0


def test_curate_incremental_three_batches(spark):
    """Stores accumulate across batches: exact dups, near-dups, and
    low-quality docs are rejected batch-over-batch; replays accept nothing."""
    from satsure_agri_datapipeline_spark.plans.curation import curate_incremental

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    b1 = spark.createDataFrame([(0, base)], "doc_id long, text string")
    acc1, dig, bands = curate_incremental(b1, None, None, min_quality_e4=0)
    assert acc1.count() == 1

    b2 = spark.createDataFrame(
        [
            (10, base),                                   # exact dup of accepted
            (11, base.replace("today", "tonight")),       # near dup of accepted
            (12, "completely different corpus text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    acc2, dig2, bands2 = curate_incremental(
        b2, dig, bands, min_quality_e4=0
    )
    assert {r.doc_id for r in acc2.collect()} == {12}
    # replay: merged stores reject everything seen so far
    acc3, _, _ = curate_incremental(
        b1.union(b2), dig.union(dig2), bands.union(bands2), min_quality_e4=0
    )
    assert acc3.count() == 0


def test_semantic_decontaminate_vectorized_matches_expression(spark):
    """r8 Arrow/numpy fast path == expression-fold form cell for cell,
    including the edge rules: zero-norm corpus vector (NULL cosine, not
    contaminated), NULL embedding, round-6 ties to the lowest eval id."""
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0]),
            (11, [0.0, 0.0, 0.0]),  # zero-norm: no valid cosine
            (12, None),  # null embedding
            (13, [0.6, 0.8, 0.0]),
            (14, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    evals = spark.createDataFrame(
        [
            (2, [1.0, 0.0, 0.0]),
            (1, [2.0, 0.0, 0.0]),  # same direction as eid 2: round-6 tie
            (3, [0.0, 1.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    a = sorted(
        map(tuple, sim.semantic_decontaminate(corpus, evals, 0.9).collect())
    )
    b = sorted(
        map(
            tuple,
            sim.semantic_decontaminate_vectorized(corpus, evals, 0.9).collect(),
        )
    )
    assert a == b
    by_id = {t[0]: t for t in b}
    assert by_id[10][1] == 1  # tie between eids 1 and 2 -> lowest wins
    assert by_id[11][2] is None and by_id[11][3] is False
    assert by_id[12][2] is None and by_id[12][3] is False


def test_curation_pipeline_store_fed_matches_raw(spark, tmp_path):
    """r8: curate_corpus(shingle_store=...) returns identical survivors to
    the per-run re-shingling path on real testdata."""
    from satsure_agri_datapipeline_spark.plans.curation import curate_corpus
    from satsure_agri_datapipeline_spark.sources.shingle_store import (
        ensure_shingle_store,
    )
    from satsure_agri_datapipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    raw = sorted(
        r.doc_id for r in curate_corpus(docs, bench).select("doc_id").collect()
    )
    store = ensure_shingle_store(spark, sf, n=3, unit="word", seed=0)
    fed = sorted(
        r.doc_id
        for r in curate_corpus(docs, bench, shingle_store=store)
        .select("doc_id")
        .collect()
    )
    assert fed == raw and len(raw) > 0

    # r12 (verdict task 2): a survivor-id set above broadcast_id_limit must
    # auto-degrade the store restriction to a shuffled semi-join — same
    # survivors, no broadcast of the id set (the 1000× OOM path).
    degraded = sorted(
        r.doc_id
        for r in curate_corpus(
            docs, bench, shingle_store=store, broadcast_id_limit=1
        )
        .select("doc_id")
        .collect()
    )
    assert degraded == raw


def test_hamming_pairs_from_fingerprints_exhaustive_vs_bruteforce(spark):
    """r11: the factored banded join is EXACT (pigeonhole: max_hamming <
    n_bands) — assert it against a driver-side brute force over an
    adversarial fingerprint set: identical-fingerprint clusters (the
    hamming-0 mass), 1..4-bit perturbations, and random fingerprints,
    at both the 32/4 and 60/4 operating points."""
    import itertools
    import random

    rng = random.Random(11)

    for bits in (32, 60):
        fps = []
        base = rng.getrandbits(bits)
        fps += [base] * 4  # identical cluster
        for k in (1, 2, 3, 4):  # k-bit perturbations (4 must NOT pair w/ base)
            v = base
            for j in rng.sample(range(bits), k):
                v ^= 1 << j
            fps.append(v)
        fps += [rng.getrandbits(bits) for _ in range(120)]
        rows = [(i, fp) for i, fp in enumerate(fps)]
        sh = spark.createDataFrame(rows, "doc_id long, simhash long")

        got = {
            (r.id_a, r.id_b): r.hamming
            for r in dd.hamming_pairs_from_fingerprints(
                sh, bits=bits, n_bands=4, max_hamming=3
            ).collect()
        }
        want = {}
        for (ia, fa), (ib, fb) in itertools.combinations(rows, 2):
            h = bin(fa ^ fb).count("1")
            if h <= 3:
                want[(min(ia, ib), max(ia, ib))] = h
        assert got == want, f"bits={bits}: {len(got)} vs {len(want)}"


def test_rep_pairs_equals_pairs_among_representatives(spark):
    """r11: fingerprint-canonical pairs == the banded join over the
    min-doc_id representative of each DISTINCT fingerprint, and the
    result contains NO hamming-0 edge (equal fingerprints share a
    representative by construction)."""
    import random

    rng = random.Random(7)
    fps = []
    for _ in range(40):  # heavy identical-fingerprint clusters
        v = rng.getrandbits(32)
        fps += [v] * rng.randint(1, 6)
    rows = [(i, fp) for i, fp in enumerate(fps)]
    sh = spark.createDataFrame(rows, "doc_id long, simhash long")

    reps = {}
    for i, fp in rows:
        reps[fp] = min(reps.get(fp, i), i)
    rep_rows = [(i, fp) for fp, i in reps.items()]
    naive = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.hamming_pairs_from_fingerprints(
            spark.createDataFrame(rep_rows, "doc_id long, simhash long"),
            bits=32, n_bands=4, max_hamming=3,
        ).collect()
    }
    via_group = sh.groupBy("simhash").agg(F.min("doc_id").alias("doc_id"))
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in dd.hamming_pairs_from_fingerprints(
            via_group, bits=32, n_bands=4, max_hamming=3
        ).collect()
    }
    assert got == naive
    assert all(h >= 1 for h in got.values())


def test_duplicated_span_stats_hand_computed(spark):
    """4-word spans over a tiny corpus with one shared region: every count
    verified by hand, incl. the short-doc zero row and within-doc repeats
    collapsing via per-doc distinctness."""
    from satsure_agri_datapipeline_spark.operators import dedup as dd

    shared = "alpha beta gamma delta epsilon"  # 5 words -> two 4-word spans
    docs = spark.createDataFrame(
        [
            (1, shared + " zeta"),           # spans: 3 (positions 1..3)
            (2, shared + " eta"),            # shares spans 1-2 with doc 1
            (3, "one two three"),            # < 4 words -> zero spans
            (4, "x y z w x y z w x y z w"),  # 12 words, 9 spans, 5 distinct, no cross-doc dups
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r.asDict()
        for r in dd.duplicated_span_stats(docs, span_words=4).collect()
    }
    assert out[1] == {"doc_id": 1, "n_spans": 3, "n_dup_spans": 2,
                      "dup_permyriad": 6666}
    assert out[2] == {"doc_id": 2, "n_spans": 3, "n_dup_spans": 2,
                      "dup_permyriad": 6666}
    assert out[3] == {"doc_id": 3, "n_spans": 0, "n_dup_spans": 0,
                      "dup_permyriad": 0}
    # doc 4: spans at pos 1..9; distinct = the 4 rotations of (x y z w)
    # appearing repeatedly -> array_distinct keeps 4... positions 1..9 of a
    # period-4 sequence give 4 distinct spans; none shared cross-doc.
    assert out[4]["n_dup_spans"] == 0
    assert out[4]["n_spans"] == 4


def test_span_dedup_drops_mostly_duplicated_docs(spark):
    from satsure_agri_datapipeline_spark.operators import dedup as dd

    base = " ".join(f"w{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (1, base),                  # duplicated wholesale with doc 2
            (2, base),
            (3, base + " unique tail suffix of many extra words here now"),
            (4, "entirely different content with no shared fifteen word windows at all in it whatsoever today"),
        ],
        ["doc_id", "text"],
    )
    kept = sorted(
        r["doc_id"]
        for r in dd.span_dedup(docs, max_permyriad=2000, span_words=15).collect()
    )
    # docs 1+2 are 100% duplicated spans; doc 3 has 29 words (20-word shared
    # prefix + 9-word tail) -> 15 fifteen-word spans, of which the 6 starting
    # inside the prefix are duplicated (40%) so it is dropped at the 20% cap;
    # doc 4 survives.
    assert kept == [4]


def test_span_stride_reduces_volume_but_keeps_long_dups(spark):
    from satsure_agri_datapipeline_spark.operators import dedup as dd

    text = " ".join(f"t{i}" for i in range(40))
    docs = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    strided = {
        r["doc_id"]: r
        for r in dd.duplicated_span_stats(docs, span_words=15, stride=5).collect()
    }
    # starts at 1,6,11,16,21,26 -> 6 spans, all duplicated across the pair
    assert strided[1]["n_spans"] == 6
    assert strided[1]["dup_permyriad"] == 10000


def test_span_stats_skew_safe_matches_window_form(spark):
    """r12 (verdict task 3): the skew-safe groupBy+flag-join formulation of
    duplicated_span_stats returns IDENTICAL rows to the window form — on a
    boilerplate-heavy corpus (one span shared by every doc, the shape that
    makes the window form a single straggler partition at scale) and with
    zero-span short docs in the mix."""
    from satsure_agri_datapipeline_spark.operators import dedup as dd

    boiler = " ".join(f"b{i}" for i in range(15))
    rows = [(i, boiler + f" tail{i} extra{i} words{i} here{i}") for i in range(40)]
    rows.append((100, "short doc"))  # 0 spans
    rows.append((101, " ".join(f"u{i}" for i in range(20))))  # unique spans
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    window_form = sorted(
        map(tuple, dd.duplicated_span_stats(docs, span_words=15).collect())
    )
    skew_form_df = dd.duplicated_span_stats(docs, span_words=15, skew_safe=True)
    skew_form = sorted(map(tuple, skew_form_df.collect()))
    dd.release(skew_form_df)
    assert skew_form == window_form and len(window_form) == 42
    # every boilerplate doc carries exactly one duplicated span (the shared
    # 15-word prefix window); its 4 tail-suffixed windows are unique
    by_id = {t[0]: t for t in skew_form}
    assert by_id[0] == (0, 5, 1, 2000)
    assert by_id[100] == (100, 0, 0, 0)
    assert by_id[101][2] == 0


def test_containment_capped_store_fed_matches_raw(spark):
    """r12 (verdict task 1): the df-capped containment form must return
    identical pairs raw vs served from the bucketed shingle store, and the
    cap must actually remove hot shingles from the computation (a doc pair
    connected ONLY by over-cap shingles disappears; sizes reflect the
    capped sets)."""
    from satsure_agri_datapipeline_spark.operators import dedup as dd
    from satsure_agri_datapipeline_spark.sources.shingle_store import (
        ensure_shingle_store,
    )
    from satsure_agri_datapipeline_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    raw_df = dd.containment_pairs_capped(docs, n=3, threshold_e4=8000)
    raw = sorted(map(tuple, raw_df.collect()))
    dd.release(raw_df)
    store = ensure_shingle_store(spark, sf, n=3, unit="word", seed=0)
    fed = sorted(
        map(
            tuple,
            dd.containment_pairs_capped(
                docs, n=3, threshold_e4=8000, exploded=store
            ).collect(),
        )
    )
    assert fed == raw

    # synthetic: docs 1/2 share only one shingle that appears in 12 docs
    # (over the cap of 10) -> capped form finds nothing; uncapped finds the
    # pair. docs 20/21 are true near-dups on rare shingles -> both find it.
    hot = "x y z"
    rows = [(i, f"{hot} filler{i} a{i} b{i} c{i}") for i in range(12)]
    rows += [(20, "p q r s t u v w"), (21, "p q r s t u v w extra")]
    tiny = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = {
        (r.id_a, r.id_b)
        for r in dd.containment_pairs(tiny, n=3, threshold_e4=2000).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in dd.containment_pairs_capped(
            tiny, n=3, threshold_e4=2000, max_shingle_df=10
        ).collect()
    }
    assert (20, 21) in uncapped and (20, 21) in capped
    assert any(a < 12 and b < 12 for a, b in uncapped)
    assert not any(a < 12 and b < 12 for a, b in capped)


def test_pair_family_size_gate(spark, monkeypatch, caplog):
    """r13 (verdict task 1): the uncapped pair-family raw names degrade to
    their bounded-state _capped pipelines above a measured corpus-size
    gate, with a logged decision; below the gate they stay byte-identical
    to their oracles (the driver's sf0.01 compare never trips it)."""
    import logging

    from satsure_agri_datapipeline_spark.plans import catalog_llm as cl

    SF = "/root/testdata/sf0.001"

    # Default thresholds: the test corpora sit far below both gates.
    monkeypatch.delenv("SPARK_GRAFT_PAIR_GATE", raising=False)
    assert not cl._pair_family_degrade(
        SF, "doc_ngram_jaccard", cl.PAIR_GATE_WORD_BYTES
    )
    assert not cl._pair_family_degrade(
        SF, "doc_char_jaccard", cl.PAIR_GATE_CHAR_BYTES
    )

    # Forced 1-byte gate: every raw name serves its capped twin's rows.
    monkeypatch.setenv("SPARK_GRAFT_PAIR_GATE", "1")
    with caplog.at_level(
        logging.WARNING, logger="satsure_agri_datapipeline_spark.pair_gate"
    ):
        assert cl._pair_family_degrade(
            SF, "doc_ngram_jaccard", cl.PAIR_GATE_WORD_BYTES
        )
    assert any("doc_ngram_jaccard" in r.message for r in caplog.records)

    for raw_name, capped_name in [
        ("doc_ngram_jaccard", "doc_ngram_jaccard_capped"),
        ("doc_containment_pairs", "doc_containment_pairs_capped"),
        ("doc_dup_triangles", "doc_dup_triangles_capped"),
        ("doc_char_jaccard", "doc_char_jaccard_capped"),
    ]:
        from satsure_agri_datapipeline_spark.plans.catalog import QUERIES

        got = sorted(map(tuple, QUERIES[raw_name](spark, SF).collect()))
        want = sorted(map(tuple, QUERIES[capped_name](spark, SF).collect()))
        assert got == want, raw_name

    # Downstream consumers of the shared pair relation ride the gate too
    # (r13 extension): canonical dedup over the forced-capped edge set
    # equals keep-canonical over an explicitly capped pair recompute.
    monkeypatch.setenv("SPARK_GRAFT_PAIR_GATE", "1")
    from satsure_agri_datapipeline_spark.operators import dedup as dd2
    from satsure_agri_datapipeline_spark.plans.catalog import QUERIES
    from satsure_agri_datapipeline_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    want_pairs = dd2.ngram_jaccard_pairs_capped(
        docs, n=3, threshold=0.5, max_shingle_df=10
    )
    want = sorted(
        r.doc_id
        for r in dd2.dedup_keep_canonical(docs, want_pairs)
        .select("doc_id")
        .collect()
    )
    got = sorted(
        r.doc_id for r in QUERIES["doc_dedup_canonical"](spark, SF).collect()
    )
    assert got == want

    # 'off' disables the gate even when the corpus would trip it.
    monkeypatch.setenv("SPARK_GRAFT_PAIR_GATE", "off")
    assert not cl._pair_family_degrade(SF, "doc_char_jaccard", 1)


def test_ivf_recall_eval_sweep(vectors):
    """r13 (verdict task 3): recall@k vs brute-force ground truth swept
    over nprobe — monotone non-decreasing in nprobe, exactly 1.0 when
    every cell is probed (the filter becomes a no-op), and consistent
    with running the IVF query itself at the same probe budget."""
    from satsure_agri_datapipeline_spark.operators import dedup as dd

    out = sim.ivf_recall_eval(
        vectors, query_id=0, k=5, n_clusters=4, nprobes=(1, 2, 4)
    )
    rows = {r.nprobe: r for r in out.collect()}
    dd.release(out)
    assert sorted(rows) == [1, 2, 4]
    assert all(r.n_truth == 5 for r in rows.values())
    recalls = [rows[p].recall_e4 for p in (1, 2, 4)]
    assert recalls == sorted(recalls)  # more probes never hurt recall
    assert rows[4].recall_e4 == 10000  # nprobe = n_clusters == exact

    # cross-check one point of the sweep against the IVF query proper
    exact = {r.vec_id for r in sim.brute_force_topk_to(vectors, 0, k=5).collect()}
    ivf2 = {
        r.vec_id
        for r in sim.ivf_topk_kmeans(
            vectors, query_id=0, k=5, n_clusters=4, nprobe=2
        ).collect()
    }
    assert rows[2].n_hits == len(exact & ivf2)


# ---------------------------------------------------------------------------
# BM25 lexical retrieval + hybrid RRF fusion (r13)


@pytest.fixture(scope="module")
def bm25_docs(spark):
    rows = [
        (0, "rare common common"),
        (1, "common common common common"),
        (2, "common other other"),
        (3, "other other other other other"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bm25_rare_term_dominates(bm25_docs):
    out = tx.bm25_topk(bm25_docs, ["rare", "common"], k=10).collect()
    # doc 3 matches no query term and must be absent entirely
    assert [r.doc_id for r in out if r.doc_id == 3] == []
    # idf(rare)=3.5/1.5 dwarfs idf(common)=1.5/3.5: the doc holding the rare
    # term outranks the doc stuffing the common one
    assert out[0].doc_id == 0 and out[0].n_terms_matched == 2
    by_id = {r.doc_id: r for r in out}
    assert by_id[1].n_terms_matched == 1 and by_id[2].n_terms_matched == 1
    assert by_id[0].bm25_score > by_id[1].bm25_score > 0
    # more raw tf of 'common' (4 vs 1) must still help doc 1 over doc 2
    assert by_id[1].bm25_score > by_id[2].bm25_score


def test_bm25_length_normalization(spark):
    # same tf of the query term; the longer doc is length-penalized (b>0)
    rows = [(0, "x pad"), (1, "x pad pad pad pad pad pad pad")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bm25_score for r in tx.bm25_topk(df, ["x"], k=10).collect()}
    assert out[0] > out[1] > 0


def test_bm25_tf_saturation(spark):
    # k1 bounds the tf contribution: score(tf=20) < (k1+1) * score(tf=1)
    rows = [(0, "x " + "pad " * 19), (1, " ".join(["x"] * 20))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.bm25_score for r in tx.bm25_topk(df, ["x"], k=10).collect()}
    assert out[1] > out[0]  # more tf still scores higher...
    assert out[1] < 2.2 * out[0]  # ...but saturates below the k1+1 ceiling


def test_bm25_validates_args(bm25_docs):
    with pytest.raises(ValueError):
        tx.bm25_topk(bm25_docs, [])
    with pytest.raises(ValueError):
        tx.bm25_topk(bm25_docs, ["x", "x"])


def test_bm25_stats_column_contract(bm25_docs):
    """``stats=`` is the token-stats store's (doc_id, dl) relation, derived
    from ``text``/``doc_id``: other column names, or a relation without
    doc_id/dl, would serve another corpus's N and avgdl, so both raise."""
    from satsure_agri_datapipeline_spark.sources.token_stats_store import _stat_rows

    stats = _stat_rows(bm25_docs)
    renamed = bm25_docs.withColumnRenamed("text", "body")
    with pytest.raises(ValueError, match="stats="):
        tx.bm25_topk(renamed, ["rare"], text_col="body", stats=stats)
    with pytest.raises(ValueError, match="stats="):
        tx.bm25_topk(bm25_docs.withColumnRenamed("doc_id", "id"), ["rare"],
                     id_col="id", stats=stats)
    with pytest.raises(ValueError, match="stats="):
        tx.bm25_topk(bm25_docs, ["rare"], stats=stats.withColumnRenamed("dl", "n"))
    served = tx.bm25_topk(bm25_docs, ["rare", "common"], k=10, stats=stats)
    raw = tx.bm25_topk(bm25_docs, ["rare", "common"], k=10)
    assert sorted(served.collect()) == sorted(raw.collect())


def test_bm25_stats_leg_case_insensitive(spark):
    # optimization r13: the corpus-stats leg skips lower() — legal only
    # because case mapping never creates or destroys whitespace, so dl and
    # total_tokens are case-independent. Pin that with mixed-case text whose
    # lowercase form the tf leg still matches.
    rows = [
        (0, "  RaRe COMMON\tCoMmOn  "),
        (1, "Common COMMON common CoMmOn"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in tx.bm25_topk(df, ["rare", "common"], k=10).collect()}
    # matching is on lowercased tokens (both docs match 'common')
    assert out[0].n_terms_matched == 2 and out[1].n_terms_matched == 1
    # identical scores to an all-lowercase corpus: stats leg saw the same
    # dl / total_tokens despite never lowering
    low = spark.createDataFrame(
        [(i, t.lower()) for i, t in rows], "doc_id long, text string"
    )
    out_low = {
        r.doc_id: r for r in tx.bm25_topk(low, ["rare", "common"], k=10).collect()
    }
    for i in (0, 1):
        assert out[i].bm25_score == out_low[i].bm25_score


def test_hybrid_rrf_fuses_both_systems(spark, bm25_docs):
    # vec 1 is nearly parallel to the query vec 0; vec 2 orthogonal; vec 9
    # exists only in the vector store (no doc 9 text matches)
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (9, [0.8, 0.3, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = sim.hybrid_rrf_topk(
        bm25_docs, emb, ["rare", "common"], query_vec_id=0, k=10, depth=3
    ).collect()
    by_id = {r.doc_id: r for r in out}
    # doc 1 appears in BOTH rankings -> two reciprocal contributions;
    # its fused score beats every single-system doc
    assert by_id[1].r_lex > 0 and by_id[1].r_sem > 0
    assert out[0].doc_id == 1
    # one-sided members carry rank 0 on the missing side, never null
    assert by_id[9].r_lex == 0 and by_id[9].r_sem > 0
    assert by_id[0].r_lex > 0 and by_id[0].r_sem == 0
    # rrf matches the hand formula for the fused doc
    expected = 1.0 / (60 + by_id[1].r_lex) + 1.0 / (60 + by_id[1].r_sem)
    assert by_id[1].rrf_score == pytest.approx(expected, abs=1e-6)


def test_quantized_topk_vectorized_matches_fold(spark):
    # corpus with a zero vector (excluded: carries no direction), a null
    # embedding (dropped), and sign-varied values exercising floor-half-up
    rows = [
        (0, [1.0, 2.0, -3.0, 0.5]),
        (1, [1.1, 1.9, -2.9, 0.4]),
        (2, [-1.0, -2.0, 3.0, -0.5]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, None),
        (5, [0.001, 0.002, -0.003, 0.004]),
        (6, [100.0, -50.0, 25.0, -12.5]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    fold = [tuple(r) for r in sim.quantized_topk_to(df, query_id=0, k=10).collect()]
    vec = [
        tuple(r)
        for r in sim.quantized_topk_to_vectorized(df, query_id=0, k=10).collect()
    ]
    assert vec == fold and len(fold) > 0
    # zero and null vectors never appear in either ranking
    ranked = {r[0] for r in fold}
    assert 3 not in ranked and 4 not in ranked


def test_quantized_topk_vectorized_empty_query(spark):
    # query vector with no direction (absmax == 0) -> zero rows, matching
    # the fold form's empty cross join
    rows = [(0, [0.0, 0.0]), (1, [1.0, 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert sim.quantized_topk_to_vectorized(df, query_id=0, k=5).collect() == []
    assert sim.quantized_topk_to(df, query_id=0, k=5).collect() == []


def test_ivfpq_recall_eval_bounds(vectors):
    out = sim.ivfpq_recall_eval(
        vectors, query_id=0, k=3, n_clusters=2, nprobe=1, m=2, n_codes=4
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_truth == 3 and 0 <= r.n_hits <= r.n_truth
    assert r.recall_e4 == r.n_hits * 10000 // r.n_truth
    # probing ALL cells = no cell pruning: the composed eval must equal the
    # plain full-corpus ADC eval exactly. (Recall is NOT monotonic in
    # nprobe: a larger candidate pool lets quantization-reordered impostors
    # displace true neighbors from the top-k — first observed right here.)
    full = sim.ivfpq_recall_eval(
        vectors, query_id=0, k=3, n_clusters=2, nprobe=2, m=2, n_codes=4
    ).collect()[0]
    adc_only = sim.pq_recall_eval(
        vectors, query_id=0, k=3, m=2, n_codes=4
    ).collect()[0]
    assert (full.n_truth, full.n_hits, full.recall_e4) == (
        adc_only.n_truth, adc_only.n_hits, adc_only.recall_e4
    )
