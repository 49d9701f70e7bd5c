"""Unit tests for the LLM-pipeline layer (dedup / similarity / multimodal /
text). Cross-engine value parity is covered by tests/oracle_check.py; these
tests pin the operator *semantics* on small controlled inputs."""

import math

import pytest
from pyspark.sql import functions as F

from flux_spark.llm import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (4, "completely different content about spark engines and logs"),
        (5, "ab"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# -- shingling --------------------------------------------------------------


def test_word_shingles(spark, docs):
    out = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", dedup.word_shingles().alias("sh")).collect()
    }
    assert out[1][0] == "the quick brown"
    assert len(out[1]) == 7  # 9 tokens -> 7 trigrams, all distinct
    assert out[5] == ["ab"]  # short doc falls back to whole text


# -- exact dedup ------------------------------------------------------------


def test_exact_dedup(spark, docs):
    groups = {
        r.canonical_id: r.n_copies for r in dedup.exact_dedup_groups(docs).collect()
    }
    assert groups == {1: 2, 3: 1, 4: 1, 5: 1}
    kept = sorted(r.doc_id for r in dedup.exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]


# -- minhash ----------------------------------------------------------------


def test_minhash_identical_docs_identical_sigs(spark, docs):
    sigs = {
        r.doc_id: r.sig
        for r in docs.select(
            "doc_id",
            dedup.minhash_signature(dedup.word_shingles(), 16).alias("sig"),
        ).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[4]
    assert len(sigs[1]) == 16
    # near-dup docs share most minhashes
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree >= 8


def test_minhash_lsh_finds_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert pairs.get((1, 2)) == 1.0
    # unrelated docs never pair up
    assert all(4 not in p and 5 not in p for p in pairs)


def test_minhash_collapse_per_doc_verdicts(spark, docs):
    """The collapsing scale form: exact copies collapse onto the min-id
    canonical (reason 'exact', never re-discovered by LSH), near-dup
    canonicals collapse onto their smallest verified partner (reason
    'near'), everything else is kept — one row per input doc."""
    # 16 one-row bands: any shared minhash admits a candidate, so the
    # (1, 3) near-dup (trigram Jaccard 0.75) is guaranteed admission —
    # the 4x4 gate banding misses it on this 5-doc fixture
    out = {
        r.doc_id: r for r in dedup.minhash_collapse(docs, bands=16).collect()
    }
    assert len(out) == docs.count()
    assert out[2].dup_of == 1 and out[2].reason == "exact"
    assert not out[2].is_kept
    assert out[3].dup_of == 1 and out[3].reason == "near"  # near dup of 1
    assert out[1].is_kept and out[1].dup_of is None and out[1].reason is None
    assert out[4].is_kept and out[5].is_kept
    # verdict partition: kept + exact + near == corpus
    assert sum(1 for r in out.values() if r.is_kept) == 3


def test_ngram_jaccard_exact_scores(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # docs 1 and 3 differ in the last token: 7 trigrams each, 6 shared
    assert math.isclose(pairs[(1, 3)], 6 / 8)


# -- simhash ----------------------------------------------------------------


def test_simhash_properties(spark, docs):
    sims = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert sims[1] == sims[2]  # identical content -> identical signature
    assert 0 <= sims[1] < 2**32
    ham13 = bin(sims[1] ^ sims[3]).count("1")
    ham14 = bin(sims[1] ^ sims[4]).count("1")
    assert ham13 < ham14  # near dup closer than unrelated doc


def test_simhash_pairs(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(docs, max_hamming=8).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_pii_scrub(spark):
    rows = [
        (1, "mail me at bob.smith+x@corp.example.org or 555-0142"),
        (2, "server at 10.1.255.3 and 192.168.0.1 ok"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.with_pii_scrub(df).collect()}
    assert (out[1].n_emails, out[1].n_phones, out[1].n_ips) == (1, 1, 0)
    assert out[1].clean_text == "mail me at [EMAIL] or [PHONE]"
    assert out[2].n_ips == 2
    assert out[2].clean_text == "server at [IP] and [IP] ok"
    assert out[3].clean_text == "nothing sensitive here"


# -- similarity -------------------------------------------------------------


@pytest.fixture(scope="module")
def vecs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 0.1, 0.0, 0.0]),  # close to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [1.0, 0.0, 0.0, 0.0]),  # identical to 0
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cosine_kernel(spark, vecs):
    a = vecs.where(F.col("vec_id") == 0).select(F.col("embedding").alias("a"))
    pairs = a.crossJoin(vecs.select(F.col("embedding").alias("b"), "vec_id"))
    out = {
        r.vec_id: r.c
        for r in pairs.select("vec_id", similarity.cosine(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert out[0] == 1.0 and out[4] == 1.0
    assert out[1] == 0.0
    assert out[3] == -1.0
    assert math.isclose(out[2], 1 / math.sqrt(1.01))


def test_brute_force_topk(spark, vecs):
    res = similarity.brute_force_topk(vecs, vecs.where(F.col("vec_id") == 0), k=2)
    rows = sorted(res.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [4, 2]
    assert rows[0].cos_sim == 1.0


def test_lsh_near_dup(spark, vecs):
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_near_dup_pairs(
            vecs, dim=4, threshold=0.99
        ).collect()
    }
    assert (0, 4) in pairs
    assert all(3 not in p for p in pairs)


def test_hyperplanes_deterministic(spark):
    assert similarity.hyperplanes(2, 8) == similarity.hyperplanes(2, 8)
    assert all(x in (1.0, -1.0) for row in similarity.hyperplanes(3, 16) for x in row)


def test_lsh_topk_finds_identical_neighbor(spark, vecs):
    # an identical vector always shares the query's own bucket (probe 0)
    res = similarity.lsh_topk(
        vecs, vecs.where(F.col("vec_id") == 0), k=2, dim=4, n_planes=4
    )
    rows = sorted(res.collect(), key=lambda r: r.rank)
    assert rows[0].neighbor_id == 4 and rows[0].cos_sim == 1.0
    # every candidate pair is emitted once despite the multiprobe fan-out
    assert len({(r.query_id, r.neighbor_id) for r in rows}) == len(rows)


def test_lsh_topk_bucket_cap(spark, vecs):
    # cap above every bucket's occupancy: bit-identical to uncapped
    base = similarity.lsh_topk(vecs, vecs, k=2, dim=4, n_planes=4)
    capped = similarity.lsh_topk(
        vecs, vecs, k=2, dim=4, n_planes=4, bucket_cap=100
    )
    assert sorted(map(tuple, capped.collect()), key=lambda t: (t[0], t[3])) == sorted(
        map(tuple, base.collect()), key=lambda t: (t[0], t[3])
    )
    # binding cap: candidates per (probe bucket) shrink to <= cap, the
    # survivors are a deterministic hash-ordered subset of the uncapped
    # candidate set, and reruns are stable
    tight = similarity.lsh_topk(
        vecs, vecs, k=4, dim=4, n_planes=2, bucket_cap=1
    )
    tight2 = similarity.lsh_topk(
        vecs, vecs, k=4, dim=4, n_planes=2, bucket_cap=1
    )
    t_rows = sorted(map(tuple, tight.collect()))
    assert t_rows == sorted(map(tuple, tight2.collect()))
    full = similarity.lsh_topk(vecs, vecs, k=100, dim=4, n_planes=2)
    full_pairs = {(r.query_id, r.neighbor_id) for r in full.collect()}
    assert {(t[0], t[1]) for t in t_rows} <= full_pairs
    # with one survivor per bucket, a query sees at most 1 + n_planes
    # candidates (one per probe signature)
    from collections import Counter

    per_q = Counter(t[0] for t in t_rows)
    assert all(v <= 3 for v in per_q.values())


def test_lsh_topk_grid_scorer_bit_identical(spark, vecs, monkeypatch):
    """The self-query bucket-grid scorer (cogrouped numpy kernel) is
    bit-identical to the per-pair Catalyst fold it replaced, and only the
    self-query shape routes through it (selective-query callers keep the
    broadcast equi-join)."""
    # self-query goes through the grid path
    plan = similarity.lsh_topk(
        vecs, vecs, k=2, dim=4, n_planes=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    # selective query does not
    sel_plan = similarity.lsh_topk(
        vecs, vecs.where(F.col("vec_id") == 0), k=2, dim=4, n_planes=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in sel_plan
    grid_rows = sorted(
        map(tuple, similarity.lsh_topk(vecs, vecs, k=3, dim=4, n_planes=2).collect())
    )

    def fold_scores(q, c):
        return (
            q.join(c, "__sig")
            .where(F.col("neighbor_id") != F.col("query_id"))
            .withColumn(
                "cos_sim",
                similarity.dot(F.col("__qv"), F.col("__cv"))
                / (F.col("__qnorm") * F.col("__cnorm")),
            )
        )

    monkeypatch.setattr(similarity, "_bucket_grid_scores", fold_scores)
    fold_rows = sorted(
        map(tuple, similarity.lsh_topk(vecs, vecs, k=3, dim=4, n_planes=2).collect())
    )
    assert grid_rows == fold_rows  # exact floats, ids, ranks


def test_auto_bucket_cap(spark, vecs):
    """occupancy_p99 is the exact rank-based percentile (histogram walk),
    and auto_bucket_cap applies the [k_mult*k, target_mult*target] rails:
    healthy occupancy passes through, duplicated mass clamps to the upper
    rail, tiny corpora floor at the lower rail."""
    # exact p99 on a known distribution: 99 buckets of occ 1, 1 of occ 50
    occ = spark.createDataFrame(
        [(i, 1) for i in range(99)] + [(99, 50)], "sig long, count long"
    )
    # rank ceil(0.99*100) = 99 -> still in the occ-1 mass
    assert similarity.occupancy_p99(occ) == 1
    occ2 = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "sig long, count long"
    )
    # rank ceil(0.99*10) = 10 -> the max
    assert similarity.occupancy_p99(occ2) == 10
    # rails: tiny corpus -> lower rail k_mult*k
    cap = similarity.auto_bucket_cap(vecs, n_planes=4, dim=4, k=5)
    assert cap == 20  # p99 of 5 vectors < 20 -> floor engages
    # duplicated mass -> upper rail target_mult*target_bucket
    dup = vecs.crossJoin(
        F.broadcast(spark.range(0, 200).select(F.col("id").alias("__j")))
    ).select(
        (F.col("vec_id") * 1000 + F.col("__j")).alias("vec_id"), "embedding"
    )
    cap_dup = similarity.auto_bucket_cap(dup, n_planes=4, dim=4, k=5)
    assert cap_dup == 64  # p99 ~200+ clamps to 4*16
    # the fused lsh_topk(bucket_cap="auto") lane derives the same cap:
    # bit-identical to passing the standalone value explicitly
    auto = similarity.lsh_topk(
        dup, vecs, k=2, dim=4, n_planes=4, bucket_cap="auto"
    )
    explicit = similarity.lsh_topk(
        dup, vecs, k=2, dim=4, n_planes=4, bucket_cap=cap_dup
    )
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_ivf_topk_exact_when_probing_all(spark, vecs):
    cents = vecs.where(F.col("vec_id").isin([0, 1])).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    res = similarity.ivf_topk(
        vecs, vecs.where(F.col("vec_id") == 0), cents, k=2, nprobe=2
    )
    rows = sorted(res.collect(), key=lambda r: r.rank)
    assert [r.neighbor_id for r in rows] == [4, 2]


# -- multimodal -------------------------------------------------------------


def test_media_plumbing(spark, docs):
    media = multimodal.with_fake_media(docs)
    feats = {r.doc_id: r for r in multimodal.byte_features(media).collect()}
    assert set(feats) == {1, 2, 3, 4, 5}
    import hashlib

    raw = hashlib.md5(b"ab").digest()
    assert feats[5].n_bytes == 16
    assert feats[5].byte_sum == sum(raw)
    assert feats[5].first_byte == raw[0]
    assert feats[5].last_byte == raw[-1]
    assert feats[5].hex_digit_sum == sum((x >> 4) + (x & 15) for x in raw)


def test_media_chunking(spark, docs):
    media = multimodal.with_fake_media(docs)
    rows = multimodal.chunk_payloads(media, chunk_size=4).collect()
    import hashlib

    # 5 docs x 4 chunks of the 16-byte digest
    assert len(rows) == 20
    per_doc = {}
    for r in rows:
        per_doc.setdefault(r.doc_id, []).append(r)
    raw = hashlib.md5(b"ab").digest()
    got = sorted(per_doc[5], key=lambda r: r.chunk_idx)
    assert [r.chunk_idx for r in got] == [0, 1, 2, 3]
    assert all(r.n_bytes == 4 for r in got)
    assert [r.chunk_sum for r in got] == [
        sum(raw[i : i + 4]) for i in range(0, 16, 4)
    ]


def test_video_corruption_quarantined(spark, docs):
    """Garbage MP4 payloads must fail loudly at execution (the quarantine
    signal), not sample silently: mp4_video_samples raises ValueError on
    structural corruption, and the Spark sample_frames path surfaces it."""
    from flux_spark.llm import codecs as C

    with pytest.raises(ValueError):
        C.mp4_video_samples(b"this is not an iso-bmff container at all")
    with pytest.raises(ValueError):
        # structurally truncated: valid ftyp then a box overrunning EOF
        C.mp4_video_samples(
            b"\x00\x00\x00\x10ftypisom\x00\x00\x00\x00" + b"\x00\x00\xff\xffmoov"
        )

    # md5-digest payloads from with_fake_media are not MP4s — the lazy
    # plan builds fine, the error fires at execution inside mapInPandas.
    m = multimodal.with_fake_media(docs)
    sampled = multimodal.sample_frames(m)
    with pytest.raises(Exception) as ei:
        sampled.collect()
    assert "ValueError" in str(ei.value)


def test_png_codec_round_trip_and_foreign_filters():
    """codecs.py is a REAL PNG codec: synth -> decode is exact, and a
    PNG built the way a real encoder would (Sub/Up/Average/Paeth
    filtered scanlines) reconstructs the same pixels."""
    import struct
    import zlib

    from flux_spark.llm import codecs as C

    for seed in (0, 3, 42, 999):
        d = C.decode_png_bytes(C.synth_png_bytes(seed))
        w, h = C.synth_png_dims(seed)
        assert d == {
            "width": w,
            "height": h,
            "channels": 3,
            "pixel_sum": sum(C.synth_png_pixel(seed, i) for i in range(w * h * 3)),
        }

    w, h, ch = 5, 4, 3
    pixels = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))

    def filt(ft, line, prev):
        out = bytearray([ft])
        for i, x in enumerate(line):
            a = line[i - ch] if i >= ch else 0
            up = prev[i]
            c = prev[i - ch] if i >= ch else 0
            delta = {
                1: a,
                2: up,
                3: (a + up) // 2,
                4: C._paeth(a, up, c),
            }[ft]
            out.append((x - delta) & 255)
        return bytes(out)

    raw = bytearray()
    prev = bytes(w * ch)
    for y, ft in zip(range(h), (1, 2, 3, 4)):
        line = pixels[y * w * ch : (y + 1) * w * ch]
        raw += filt(ft, line, prev)
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        C._PNG_SIG
        + C._chunk(b"IHDR", ihdr)
        + C._chunk(b"IDAT", zlib.compress(bytes(raw)))
        + C._chunk(b"IEND", b"")
    )
    assert C.png_pixels(png) == (w, h, ch, pixels)

    # corruption is loud: flip one IDAT byte -> CRC mismatch
    bad = bytearray(png)
    bad[len(png) // 2] ^= 0xFF
    with pytest.raises(ValueError):
        C.png_pixels(bytes(bad))


def test_wav_codec_round_trip():
    from flux_spark.llm import codecs as C

    for seed in (0, 1, 7, 123456):
        d = C.decode_wav_bytes(C.synth_wav_bytes(seed))
        n = C.synth_wav_frames(seed)
        assert d == {
            "sample_rate": 8000,
            "n_channels": 1,
            "n_frames": n,
            "duration_ms": n * 1000 // 8000,
            "abs_sum": sum(abs(C.synth_wav_sample(seed, k)) for k in range(n)),
        }


def test_resize_images_real_png_output(spark, docs):
    """resize_images emits valid PNGs at the target geometry whose
    pixels are a nearest-neighbor subsample of the source."""
    from flux_spark.llm import codecs as C

    src = multimodal.with_png_media(docs.select("doc_id"))
    out = {r["doc_id"]: bytes(r["media"])
           for r in multimodal.resize_images(src, 2, 2).collect()}
    for r in src.collect():
        seed = r["doc_id"]
        w, h, ch, pixels = C.png_pixels(bytes(r["media"]))
        rw, rh, rch, rp = C.png_pixels(out[seed])
        assert (rw, rh, rch) == (2, 2, 3)
        assert rp == C.resize_nearest(pixels, w, h, ch, 2, 2)


# -- text -------------------------------------------------------------------


def test_quality_and_tokens(spark, docs):
    q = {r.doc_id: r for r in text.quality_score(docs).collect()}
    assert q[1].n_tokens == 9
    assert q[1].uniq_token_ratio == 8 / 9  # 'the' repeats
    assert q[5].n_tokens == 1
    assert 0.0 <= q[1].quality_score <= 1.0
    c = {r.doc_id: r for r in text.token_count_bpe_ish(docs).collect()}
    assert c[1].n_ws_tokens == 9
    assert c[5].n_subword_tokens == 1


def test_fingerprint_rolling_hash(spark, docs):
    fp = {r.doc_id: r.fingerprint for r in text.with_fingerprint(docs).collect()}

    def ref(s: str) -> int:
        acc = 0
        for ch in s:
            acc = (acc * 31 + ord(ch)) % text.FINGERPRINT_MOD
        return acc

    assert fp[5] == ref("ab")
    assert fp[1] == fp[2] == ref("the quick brown fox jumps over the lazy dog")


def test_connected_components_transitive_chain(spark):
    from flux_spark.llm.dedup import connected_components

    # chain 1-2-3 plus pair 10-11 plus isolated vertex 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "doc_id long")
    out = {
        r.doc_id: r.cluster_id
        for r in connected_components(pairs, vertices=verts).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain_converges(spark):
    from flux_spark.llm.dedup import connected_components

    # worst-case diameter: a 12-vertex path; min label must walk end to end
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    out = connected_components(pairs).collect()
    assert {r.cluster_id for r in out} == {0}
    assert len(out) == 12


# -- round-2: repetition / split / contamination ----------------------------


def test_ngram_repetition(spark):
    rows = [
        (1, "a b c a b c a b c"),     # 9 toks -> 7 grams, 3 distinct
        (2, "w x y z"),               # 4 toks -> 2 grams, both unique
        (3, "xy"),                    # short: whole text = 1 gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.ngram_repetition(df).collect()}
    assert out[1].n_grams == 7 and out[1].n_distinct == 3
    assert out[1].top_count == 3  # "a b c" occurs at positions 1,4,7
    assert out[1].dup_fraction == pytest.approx(4 / 7)
    assert out[2].n_grams == 2 and out[2].dup_fraction == 0.0
    assert out[3].n_grams == 1 and out[3].n_distinct == 1


def test_with_split_deterministic_and_complete(spark):
    df = spark.createDataFrame(
        [(i,) for i in range(500)], "doc_id long"
    )
    a = {r.doc_id: r.split for r in text.with_split(df).collect()}
    b = {r.doc_id: r.split for r in text.with_split(df.repartition(7)).collect()}
    assert a == b  # stable under repartitioning
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) == {"train", "validation", "test"}
    assert counts["train"] > counts["validation"]
    assert counts["train"] > counts["test"]


def test_contamination(spark):
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon other words here"),  # overlaps
            (2, "totally unrelated text with no shared fivegrams at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.contamination(corpus, bench).collect()}
    assert set(out) == {1}  # clean doc not reported
    assert out[1].n_contaminated == 1  # "alpha beta gamma delta epsilon"
    assert out[1].n_shingles == 4
    assert out[1].contamination_rate == pytest.approx(0.25)


def test_dup_span_dedup_masks_shared_spans(spark):
    # docs 1 and 2 share the 4-gram "a b c d"; doc 3 is untouched;
    # doc 4 is a full duplicate of the shared span only -> empty result
    rows = [
        (1, "x a b c d y"),
        (2, "a b c d z w"),
        (3, "p q r s t u"),
        (4, "a b c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in dedup.dup_span_dedup(df, k=4, min_docs=2).collect()
    }
    assert out[1]["clean_text"] == "x y"
    assert out[2]["clean_text"] == "z w"
    assert out[3]["clean_text"] == "p q r s t u"
    assert out[4]["clean_text"] == ""
    assert out[4]["n_tokens"] == 4 and out[4]["n_kept_tokens"] == 0
    assert out[1]["n_kept_tokens"] == 2


def test_dup_span_dedup_short_docs_pass_through(spark):
    # docs shorter than k produce no grams and survive unchanged
    df = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    out = dedup.dup_span_dedup(df, k=4, min_docs=2).collect()
    assert sorted(r["clean_text"] for r in out) == ["a b", "a b"]


def test_pq_encode_codebook_order_invariant(spark, sf_dir):
    """The codebook collect_list is wrapped in sort_array (hidden inside
    the aggregate's result expressions, so no plan assertion can see it):
    codes must be identical whatever partition/arrival order the codebook
    rows come in — at cluster scale collect_list order is arbitrary."""
    from pyspark.sql import functions as F

    from flux_spark.llm import similarity

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cb = e.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    shuffled = cb.orderBy(F.col("code_id").desc()).repartition(8)
    r1 = {
        r["vec_id"]: (tuple(r["codes"]), r["recon_err"])
        for r in similarity.pq_encode(e, cb).collect()
    }
    r2 = {
        r["vec_id"]: (tuple(r["codes"]), r["recon_err"])
        for r in similarity.pq_encode(e, shuffled).collect()
    }
    assert r1 == r2
    assert len(r1) == e.count()


def test_pq_encode_matches_numpy_reference(spark):
    """Independent check (no DuckDB, no shared code): PQ codes and
    reconstruction error recomputed with numpy on synthetic vectors."""
    import numpy as np

    from flux_spark.llm import similarity

    rng = [((i * 2654435761) % 997) / 997.0 for i in range(24 * 64)]
    vecs = [rng[i * 64 : (i + 1) * 64] for i in range(24)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    from pyspark.sql import functions as F

    cb = df.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    got = {
        r["vec_id"]: (list(r["codes"]), r["recon_err"])
        for r in similarity.pq_encode(df, cb).collect()
    }
    # numpy reference (float32 storage widening like parquet)
    V = np.array(vecs, dtype=np.float32).astype(np.float64)
    CB = V[:16]
    for i in range(24):
        codes, err = [], 0.0
        for s in range(8):
            sub = slice(s * 8, (s + 1) * 8)
            d = ((CB[:, sub] - V[i, sub]) ** 2).sum(axis=1)
            c = int(np.argmin(d))  # argmin takes first on ties, like ours
            codes.append(c)
            err += float(d[c])
        assert got[i][0] == codes, (i, got[i][0], codes)
        assert abs(got[i][1] - err) < 1e-9, (i, got[i][1], err)


def test_pq_encode_sparse_code_ids(spark):
    """codes are the codebook's ACTUAL code_id values: relabelling the
    codebook with sparse non-zero-based ids must relabel the codes the
    same way and leave recon_err untouched (ADVICE r3: positions in the
    sorted codebook array are only valid ids when ids are dense 0..n-1)."""
    from pyspark.sql import functions as F

    from flux_spark.llm import similarity

    rng = [((i * 2654435761) % 997) / 997.0 for i in range(24 * 64)]
    df = spark.createDataFrame(
        [
            (i, [float(x) for x in rng[i * 64 : (i + 1) * 64]])
            for i in range(24)
        ],
        "vec_id long, embedding array<float>",
    )
    dense_cb = df.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    # sparse relabel: 0..15 -> 1000, 1007, 1014, ... (order-preserving)
    sparse_cb = dense_cb.withColumn(
        "code_id", (F.col("code_id") * 7 + 1000).cast("long")
    )
    dense = {
        r["vec_id"]: (list(r["codes"]), r["recon_err"])
        for r in similarity.pq_encode(df, dense_cb).collect()
    }
    sparse = {
        r["vec_id"]: (list(r["codes"]), r["recon_err"])
        for r in similarity.pq_encode(df, sparse_cb).collect()
    }
    assert set(dense) == set(sparse)
    for vid, (codes, err) in dense.items():
        s_codes, s_err = sparse[vid]
        assert s_codes == [c * 7 + 1000 for c in codes], vid
        assert s_err == err, vid


def test_filter_report_reference_rows(spark):
    """filter_report rule semantics on hand-computed documents."""
    from flux_spark.llm import text as t

    rows = [
        (1, " ".join(["the quick brown fox jumps over a lazy dog"] * 6)),
        (2, " ".join(["word"] * 60)),
        (3, "a b"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in t.filter_report(df).collect()}
    # doc 1: 54 tokens, length/word-len/stopword rules pass, but only 9
    # distinct tokens -> uniq 9/54 < 0.2 and top frac 6/54 > 0.1
    assert out[1]["n_tokens"] == 54
    assert not out[1]["r_length"]
    assert not out[1]["r_word_len"]
    assert not out[1]["r_stopword"]   # 'the' x6 + 'a' x6 >= 2
    assert out[1]["stopword_count"] == 12
    assert out[1]["r_uniq"] and out[1]["r_repetition"]
    assert not out[1]["keep"]
    # doc 2: 60 identical tokens -> repetition (and uniq) fire
    assert out[2]["n_tokens"] == 60
    assert out[2]["r_repetition"]     # top token frac 60/60 > 0.1
    assert not out[2]["keep"]
    # doc 3: 2 tokens < 50
    assert out[3]["r_length"]
    assert not out[3]["keep"]


def test_auto_planes_tracks_log2():
    """auto_planes keeps expected bucket size ~target as corpora grow —
    the knob that keeps LSH candidate volume linear at 100x scale."""
    from flux_spark.llm.similarity import auto_planes

    assert auto_planes(10) == 4                  # floor
    assert auto_planes(2_000) == 7               # 2000/16 -> 125 -> 2^7
    assert auto_planes(20_000) == 11
    assert auto_planes(1_000_000_000) == 26
    # expected bucket size stays in [target/2, 2*target]
    for n in (10_000, 100_000, 10_000_000):
        p = auto_planes(n)
        assert 8 <= n / (2 ** p) <= 32, (n, p)


def test_pair_cosine_arrow_bit_identical_to_fold(spark):
    """pair_cosine_arrow must be BIT-identical to the Catalyst fold
    cosine() — same left-to-right float64 accumulation — including on
    adversarial magnitudes where summation order changes the rounding."""
    rows = []
    for i in range(64):
        # wildly mixed magnitudes + signs: catches any pairwise/SIMD
        # summation shortcut (numpy .sum would diverge here)
        a = [((i * 131 + j * 17) % 23 - 11) * (10.0 ** ((j % 13) - 6)) for j in range(64)]
        b = [((i * 37 + j * 101) % 19 - 9) * (10.0 ** (((j + 5) % 13) - 6)) for j in range(64)]
        rows.append((i, [float(x) for x in a], [float(y) for y in b]))
    df = spark.createDataFrame(
        rows, "pid long, a array<float>, b array<float>"
    )
    got = df.select(
        "pid",
        similarity.cosine(F.col("a"), F.col("b")).alias("fold"),
        similarity.pair_cosine_arrow(F.col("a"), F.col("b")).alias("arrow"),
    ).collect()
    assert len(got) == 64
    for r in got:
        assert r.fold == r.arrow, (r.pid, r.fold, r.arrow, r.fold - r.arrow)


# -- semantic dedup (SemDeDup) ---------------------------------------------


def test_semantic_dedup_within_cluster_only(spark):
    """The SemDeDup contract: duplicates are detected only WITHIN a
    vector's assigned cluster — two identical vectors in different
    clusters are never compared (that is the scalability trade), while
    cluster-mates above the threshold collapse onto the min id."""
    rows = [
        # cluster around +x
        (10, [1.0, 0.0, 0.0, 0.0]),
        (11, [1.0, 0.0, 0.0, 0.0]),        # exact dup of 10 -> dup_of=10
        (12, [0.999, 0.01, 0.0, 0.0]),     # near dup -> dup_of=10
        (13, [0.8, 0.58, 0.0, 0.0]),       # same cluster, cos < 0.98 -> kept
        # cluster around +y
        (20, [0.0, 1.0, 0.0, 0.0]),
        (21, [0.0, 1.0, 0.0, 0.0]),        # exact dup of 20 -> dup_of=20
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "centroid_id long, v array<double>",
    )
    out = {
        r.vec_id: r
        for r in similarity.semantic_dedup(
            corpus, cen, vec_col="v", threshold=0.98
        ).collect()
    }
    assert len(out) == 6
    assert out[10].is_kept and out[10].dup_of is None
    assert out[11].dup_of == 10 and not out[11].is_kept
    assert out[12].dup_of == 10
    assert out[13].is_kept                     # below threshold
    assert out[20].is_kept
    assert out[21].dup_of == 20
    # cross-cluster isolation: 10/11 (cluster 0) never pair with 20/21
    assert out[20].cluster_id != out[10].cluster_id


@pytest.mark.parametrize(
    "emit", ["near_dup_pairs", "min_id_verdict", "cross_scores"]
)
def test_grid_chunking_invariant(spark, monkeypatch, emit):
    """Every grid kernel scores its candidates in column chunks of at
    most _GRID_CHUNK_TARGET cells; forcing 1-cell chunks must give the
    exact same rows as one big grid, for each emit rule: near-dup pairs
    (lsh_near_dup_pairs), the MIN(id_a) verdict (semantic_dedup) and the
    cross scores (_bucket_grid_scores). Chunk boundaries cannot change a
    score, MIN(id_a) or drop a pair, and rows with NULL signatures never
    pair (the equi-join semantics the cogroup replaced)."""
    import random

    rnd = random.Random(7)
    # one bucket/cluster: 12 vectors, several near-dup groups with
    # interleaved ids
    base = [[1.0, 0.0, 0.0, 0.0], [0.9, 0.43, 0.0, 0.0], [0.7, 0.7, 0.14, 0.0]]
    rows = []
    for i in range(12):
        b = base[i % 3]
        eps = [(rnd.random() - 0.5) * 1e-4 for _ in b]
        rows.append((i, [x + e for x, e in zip(b, eps)]))
    corpus = spark.createDataFrame(rows, "vec_id long, v array<double>")
    if emit == "near_dup_pairs":

        def run():
            return similarity.lsh_near_dup_pairs(
                corpus, vec_col="v", n_planes=1, dim=4, threshold=0.98
            )

    elif emit == "min_id_verdict":
        cen = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0])], "centroid_id long, v array<double>"
        )

        def run():
            return similarity.semantic_dedup(
                corpus, cen, vec_col="v", threshold=0.98
            )

    else:
        rows_c = [
            (1, [1.0, 0.0], 1.0, 5),
            (2, [0.8, 0.6], 1.0, 5),
            (3, [0.0, 1.0], 1.0, 5),
            (4, [0.5, 0.5], 0.7071067811865476, None),
            (9, [0.5, 0.5], 0.7071067811865476, None),
        ]
        c = spark.createDataFrame(
            rows_c,
            "neighbor_id long, __cv array<double>, __cnorm double, __sig long",
        )
        q = spark.createDataFrame(
            rows_c,
            "query_id long, __qv array<double>, __qnorm double, __sig long",
        )

        def run():
            return similarity._bucket_grid_scores(q, c)

    big = sorted(map(tuple, run().collect()))
    monkeypatch.setattr(similarity, "_GRID_CHUNK_TARGET", 1)
    tiny = sorted(map(tuple, run().collect()))
    assert big == tiny
    if emit == "near_dup_pairs":
        # only same-group pairs pass the threshold, and every group's
        # 4 members pair up: 3 groups x C(4, 2) = 18 pairs
        assert len(big) == 18
        assert all(a % 3 == b % 3 and a < b for a, b, _ in big)
    elif emit == "min_id_verdict":
        # sanity: the threshold actually split the groups (dups exist)
        assert any(t[2] is not None for t in big)
    else:
        # bucket 5 has 3 vectors -> 6 ordered non-self pairs; the two
        # null-sig rows contribute nothing (old equi-join semantics)
        assert len(big) == 6
        assert all(qid != 4 and qid != 9 for qid, _, _ in big)


@pytest.mark.parametrize("id_t", ["int", "string"])
def test_grid_kernels_pin_degenerate_inputs(spark, id_t):
    """NaN-element and zero-norm vectors and non-int64 id columns through
    the three grid kernels. A zero-norm or NaN cosine compares as
    greatest (Spark's NaN ordering), so it passes the threshold and the
    MIN(id_a) verdict, and its score leaves the kernel as NULL. Empty
    kernel outputs (the singleton bucket {5}, the singleton cluster {7})
    keep the id column's type."""
    cast = int if id_t == "int" else str
    nan = float("nan")
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 0.0]),
        (5, [1.0, nan, 0.0, 0.0]),
        (6, [1.0, 0.01, 0.0, 0.0]),
        (7, [0.0, 0.0, -1.0, 0.5]),
    ]
    corpus = spark.createDataFrame(
        [(cast(i), v) for i, v in vecs], f"vec_id {id_t}, embedding array<float>"
    )
    cen = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, -1.0, 0.0])],
        "centroid_id long, embedding array<float>",
    )
    near = 0.9999500037519226  # cos(1, 6) in float64

    def expect(rows):  # ids in the first two columns
        return sorted((cast(a), cast(b), *rest) for a, b, *rest in rows)

    pairs = similarity.lsh_near_dup_pairs(corpus, dim=4, n_planes=2, threshold=0.99)
    assert pairs.dtypes[:2] == [("id_a", id_t), ("id_b", id_t)]
    assert sorted(map(tuple, pairs.collect())) == expect(
        [(1, 2, 1.0), (1, 6, near), (2, 6, near),
         (3, 4, None), (3, 7, None), (4, 7, None)]
    )
    dd = similarity.semantic_dedup(corpus, cen, threshold=0.99)
    assert dd.dtypes[0] == ("vec_id", id_t) and dd.dtypes[2] == ("dup_of", id_t)
    assert sorted(
        (r.vec_id, r.cluster_id, r.dup_of) for r in dd.collect()
    ) == sorted(
        (cast(i), c, None if d is None else cast(d))
        for i, c, d in [(1, 0, None), (2, 0, 1), (3, 0, 1), (4, 0, 1),
                        (5, 0, 1), (6, 0, 1), (7, 1, None)]
    )
    top = similarity.lsh_topk(corpus, corpus, k=2, dim=4, n_planes=2)
    assert top.dtypes[:2] == [("query_id", id_t), ("neighbor_id", id_t)]
    assert sorted(map(tuple, top.collect())) == expect(
        [(1, 2, 1.0, 1), (1, 6, near, 2), (2, 1, 1.0, 1), (2, 6, near, 2),
         (3, 1, None, 1), (3, 2, None, 2), (4, 1, None, 1), (4, 2, None, 2),
         (5, 1, None, 1), (5, 2, None, 2), (6, 1, near, 1), (6, 2, near, 2),
         (7, 1, 0.0, 1), (7, 2, 0.0, 2)]
    )


def test_auto_centroids_tracks_corpus_size():
    from flux_spark.llm.similarity import auto_centroids

    assert auto_centroids(100) == 1
    assert auto_centroids(1024) == 1
    assert auto_centroids(1_000_000, target_cluster=1000) == 1000
    # paper's operating point: ~100M docs / 11k clusters ~ 9k per cluster
    assert 10_000 <= auto_centroids(100_000_000, target_cluster=9000) <= 12_000


def test_hier_branches_properties():
    """b = exact integer ceil(sqrt(k)) for any k — the two-stage probe
    cost b + 2*avg_branch is O(sqrt(k))."""
    from flux_spark.llm.similarity import hier_branches

    for k in list(range(1, 600)) + [841, 20_000, 5_000_000, 2**40 + 7]:
        b = hier_branches(k)
        assert b * b >= k and (b - 1) * (b - 1) < k, (k, b)


def _hier_reference(A, C):
    """Independent numpy reference of the two-level rule (normalized
    matmul — a different summation order than the kernel's dim-loop, so
    agreement is a semantics check, not a copy): fine centroids group
    under their max-cosine representative (the ceil(sqrt(K)) lowest-id
    centroids); each vector routes to its 2 best representatives and
    argmaxes over the union of those branches' members."""
    import math

    import numpy as np

    K = len(C)
    b = math.isqrt(K)
    b += b * b < K
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    cbr = np.argmax(Cn @ Cn[:b].T, axis=1)
    routed = np.argsort(-(An @ Cn[:b].T), axis=1, kind="stable")[:, :2]
    out = np.empty(len(A), dtype=np.int64)
    for i in range(len(A)):
        mem = np.where(np.isin(cbr, routed[i]))[0]
        out[i] = mem[int(np.argmax(An[i] @ Cn[mem].T))]
    return cbr, routed, out


def test_hier_assign_matches_two_level_reference(spark):
    """The Arrow kernel implements exactly the proximity + 2-branch
    rule: same assigned centroid as an independent numpy reference, and
    the assigned centroid's branch is always one of the 2 routed ones."""
    import numpy as np

    from flux_spark.llm.similarity import assign_centroids, centroid_branches

    rng = np.random.RandomState(7)
    K, n, dim = 10, 60, 8
    C = rng.randn(K, dim)
    A = rng.randn(n, dim)
    cbr_ref, routed_ref, assign_ref = _hier_reference(A, C)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in A[i]]) for i in range(n)],
        "vec_id long, v array<double>",
    )
    cen = spark.createDataFrame(
        [(j, [float(x) for x in C[j]]) for j in range(K)],
        "centroid_id long, v array<double>",
    )
    # the exposed branch model agrees with the reference grouping
    assert centroid_branches(cen, vec_col="v") == [
        (j, int(cbr_ref[j])) for j in range(K)
    ]
    got = {
        r.vec_id: r.cluster_id
        for r in assign_centroids(
            corpus, cen, vec_col="v", hierarchical=True
        ).collect()
    }
    for i in range(n):
        assert got[i] == assign_ref[i], (i, got[i], assign_ref[i])
        assert cbr_ref[got[i]] in routed_ref[i]


def test_hier_assign_equals_flat_for_tiny_k(spark):
    """b <= 2 (k <= 4): both branches are always routed, so two-level
    assignment degenerates exactly to the flat argmax."""
    import numpy as np

    from flux_spark.llm.similarity import assign_centroids

    rng = np.random.RandomState(11)
    A = rng.randn(40, 6)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in A[i]]) for i in range(len(A))],
        "vec_id long, v array<double>",
    )
    for k in (1, 2, 3, 4):
        C = rng.randn(k, 6)
        cen = spark.createDataFrame(
            [(j, [float(x) for x in C[j]]) for j in range(k)],
            "centroid_id long, v array<double>",
        )
        flat = assign_centroids(corpus, cen, vec_col="v").collect()
        hier = assign_centroids(
            corpus, cen, vec_col="v", hierarchical=True
        ).collect()
        assert sorted(map(tuple, flat)) == sorted(map(tuple, hier)), k


def test_hier_probe_union_of_routed_branches(spark):
    """The hierarchical probe returns the nprobe nearest centroids over
    the UNION of the 2 routed branches — every returned centroid lives
    in a routed branch, ordered (cos DESC, cid ASC), and fewer are
    returned when the union holds fewer than nprobe centroids."""
    import numpy as np

    from flux_spark.llm import similarity

    rng = np.random.RandomState(3)
    K, dim = 10, 8
    C = rng.randn(K, dim)
    A = np.vstack([C[9] + 0.01 * rng.randn(dim),
                   C[0] + 0.01 * rng.randn(dim)])
    cbr_ref, routed_ref, _ = _hier_reference(A, C)
    cents = [(j, [float(x) for x in C[j]]) for j in range(K)]
    probe = similarity._centroid_probe_hier_arrow(cents, nprobe=3)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in A[i]]) for i in range(len(A))],
        "vec_id long, v array<double>",
    )
    got = {
        r.vec_id: r.p
        for r in corpus.select(
            "vec_id", probe(F.col("v")).alias("p")
        ).collect()
    }
    An = A / np.linalg.norm(A, axis=1, keepdims=True)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    for i in (0, 1):
        union = np.where(np.isin(cbr_ref, routed_ref[i]))[0]
        expect = sorted(
            union.tolist(), key=lambda c: (-(An[i] @ Cn[c]), c)
        )[:3]
        assert got[i] == expect, (i, got[i], expect)
        assert len(got[i]) == min(3, len(union))


def test_vote_lane_three_probe_degenerates_to_flat(spark):
    """The label-vote lane routes through 3 coarse branches (r13, VERDICT
    r12 #5 — the vote argmax is more routing-sensitive than the dedup
    threshold), so for b <= 3 (K <= 9) every branch is probed and
    hierarchical IVF voting must equal flat IVF voting EXACTLY — the
    degeneracy rule the sf0.01 oracle gate leans on."""
    import numpy as np

    from flux_spark.llm.similarity import knn_label_vote_ivf

    rng = np.random.RandomState(7)
    X = rng.randn(120, 6)
    rows = [
        (i, [float(x) for x in X[i]], f"l{i % 3}") for i in range(len(X))
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>, label string")
    labeled = df.where(F.col("vec_id") % 4 != 0)
    unlabeled = df.where(F.col("vec_id") % 4 == 0)
    for k_c in (5, 9):  # b = 3 both times -> all 3 branches probed
        cen = spark.createDataFrame(
            [(j, [float(x) for x in X[j]]) for j in range(k_c)],
            "centroid_id long, v array<double>",
        )
        kw = dict(
            k=3, nprobe=2, vec_col="v", label_col="label",
            centroid_id_col="centroid_id",
        )
        flat = knn_label_vote_ivf(labeled, unlabeled, cen, **kw).collect()
        hier = knn_label_vote_ivf(
            labeled, unlabeled, cen, hierarchical=True, **kw
        ).collect()
        assert sorted(map(tuple, flat)) == sorted(map(tuple, hier)), k_c


def test_perplexity_buckets_per_language(spark):
    """CCNet bucketing: NTILE is per-language (ranks are not comparable
    across languages) and bucket 1 is the most-fluent head."""
    rows = [
        # 'en': common bigrams -> high scores; one junk doc -> tail
        (1, "a b a b a b", "en"),
        (2, "a b a b", "en"),
        (3, "x y", "en"),        # rare bigram -> lowest en score
        # 'fr': single doc -> its own bucket 1 regardless of score
        (4, "x y", "fr"),
        # one-token doc: no bigrams, no score row — must still be
        # bucketed (tail, NULLS LAST), not silently dropped
        (5, "z", "en"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r.doc_id: r
        for r in text.perplexity_buckets(
            d, text.bigram_counts(d), n_buckets=3
        ).collect()
    }
    assert out[1].bucket == 1                      # en head
    assert out[4].bucket == 1                      # fr's only doc heads its own lang
    assert out[4].lang == "fr"
    assert len(out) == 5                           # nothing dropped
    assert out[5].bucket == 3                      # unscored -> tail
    assert out[5].mean_cond_prob is None
    assert out[3].bucket in (2, 3)                 # worst scored doc stays low


def test_minhash_signature_arrow_matches_catalyst(spark):
    """The Arrow-vectorized signature must be BIT-IDENTICAL to the
    Catalyst reference on every shingle-set shape: normal docs, single
    shingle, unicode, duplicates-after-distinct, and the <k-token
    whole-text fallback."""
    from flux_spark.llm import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "short"),                          # <k tokens -> whole text
        (3, "a b"),                            # <k tokens, two words
        (4, "x y z"),                          # exactly k tokens
        (5, "naive cafe über tokens with unicode ☃ everywhere here"),
        (6, " ".join(f"w{i % 7}" for i in range(40))),  # repeats collapse
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select(
        "doc_id", dedup.word_shingles("text", 3).alias("s")
    )
    both = sh.select(
        "doc_id",
        dedup.minhash_signature(F.col("s"), 16).alias("ref"),
        dedup.minhash_signature_arrow(F.col("s"), 16).alias("arrow"),
    ).collect()
    for r in both:
        assert list(r.ref) == list(r.arrow), (r.doc_id, r.ref, r.arrow)


def test_simhash_arrow_matches_catalyst(spark):
    """The Arrow SimHash kernel must be BIT-IDENTICAL to the Catalyst
    reference on every shingle shape (incl. the <k-token fallback and
    exact 50/50 vote ties resolving to bit 0)."""
    from flux_spark.llm import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "short"),
        (3, "a b"),
        (4, "x y z"),
        (5, "naive cafe über tokens with unicode ☃ everywhere here"),
        (6, " ".join(f"w{i % 7}" for i in range(40))),
        (7, "p q r s"),  # 2 shingles -> even vote counts exercise ties
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = {r.doc_id: r.simhash for r in dedup.simhash_catalyst(df).collect()}
    got = {r.doc_id: r.simhash for r in dedup.simhash(df).collect()}
    assert got == ref


def test_pq_scored_arrow_matches_catalyst(spark):
    """The Arrow PQ distance kernel must be BIT-IDENTICAL to the Catalyst
    reference (__ds and __cids) — same f32->f64 widening, same
    left-to-right accumulation per subdimension."""
    import random

    from flux_spark.llm.similarity import _pq_scored, _pq_scored_catalyst

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = df.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    ref = {
        r['vec_id']: (list(map(list, r['__ds'])), list(r['__cids']))
        for r in _pq_scored_catalyst(
            df, cb, "embedding", "vec_id", "code_id", 4, 16
        ).collect()
    }
    got = {
        r['vec_id']: (list(map(list, r['__ds'])), list(r['__cids']))
        for r in _pq_scored(
            df, cb, "embedding", "vec_id", "code_id", 4, 16
        ).collect()
    }
    assert got == ref


def test_word_shingles_arrow_matches_catalyst(spark):
    """Arrow shingling must be IDENTICAL (values AND order) to the
    Catalyst form: empty-string tokens from double spaces, <k-token
    whole-text fallback, duplicate collapse order, unicode."""
    from flux_spark.llm import dedup

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "short"),
        (3, "a b"),
        (4, "x y z"),
        (5, "double  space   runs here now ok"),
        (6, " leading and trailing "),
        (7, ""),
        (8, "naive ☃ cafe über tokens with unicode everywhere"),
        (9, " ".join(f"w{i % 3}" for i in range(20))),  # heavy dups
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    both = df.select(
        "doc_id",
        dedup.word_shingles("text", 3).alias("arrow"),
        dedup.word_shingles_catalyst("text", 3).alias("ref"),
    ).collect()
    for r in both:
        assert list(r.arrow) == list(r.ref), (r.doc_id, r.arrow, r.ref)


def test_arrow_kernels_null_propagate_like_catalyst(spark):
    """ADVICE r6: every Arrow kernel must null-propagate exactly like its
    pinned Catalyst twin — a null text/shingles/embedding row yields NULL,
    never an executor crash, so one bad row can't fail a 100 TB job."""
    from flux_spark.llm import dedup
    from flux_spark.llm.similarity import _pq_scored, _pq_scored_catalyst

    d = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, None), (3, "a b c d")],
        "doc_id long, text string",
    )
    both = d.select(
        "doc_id",
        dedup.word_shingles("text", 3).alias("arrow_sh"),
        dedup.word_shingles_catalyst("text", 3).alias("ref_sh"),
    )
    sig = both.select(
        "doc_id",
        "arrow_sh",
        "ref_sh",
        dedup.minhash_signature_arrow(F.col("arrow_sh"), 8).alias("arrow_sig"),
        dedup.minhash_signature(F.col("ref_sh"), 8).alias("ref_sig"),
        dedup.simhash_bits_arrow(F.col("arrow_sh"), 32).alias("arrow_sim"),
    ).collect()
    by_id = {r.doc_id: r for r in sig}
    assert by_id[2].arrow_sh is None and by_id[2].ref_sh is None
    # Catalyst's F.array-of-array_min on NULL shingles is [NULL]*n, not NULL
    assert list(by_id[2].ref_sig) == [None] * 8
    assert list(by_id[2].arrow_sig) == [None] * 8
    assert by_id[2].arrow_sim is None
    for i in (1, 3):  # non-null rows unaffected by the guard
        assert list(by_id[i].arrow_sh) == list(by_id[i].ref_sh)
        assert list(by_id[i].arrow_sig) == list(by_id[i].ref_sig)
        assert by_id[i].arrow_sim is not None

    e = spark.createDataFrame(
        [(0, [float(j) for j in range(8)]),
         (1, None),
         (2, [float(8 - j) for j in range(8)])],
        "vec_id long, embedding array<float>",
    )
    cb = e.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    ref = {r["vec_id"]: r["__ds"] for r in _pq_scored_catalyst(
        e, cb, "embedding", "vec_id", "code_id", 2, 8).collect()}
    got = {r["vec_id"]: r["__ds"] for r in _pq_scored(
        e, cb, "embedding", "vec_id", "code_id", 2, 8).collect()}
    # Catalyst builds the outer arrays even for a NULL vector
    assert ref[1] == [[None], [None]]
    assert got[1] == ref[1]
    assert got[0] == ref[0] and got[2] == ref[2]

    # a NULL vector gets a NULL cluster from the flat and hierarchical
    # assign kernels, like the probe kernels; SemDeDup keeps that row
    cen = e.where(F.col("vec_id") != 1).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    for hier in (False, True):
        got = similarity.assign_centroids(e, cen, hierarchical=hier).collect()
        assert sorted(map(tuple, got)) == [(0, 0), (1, None), (2, 2)]
        dd = similarity.semantic_dedup(e, cen, hierarchical=hier).collect()
        assert {r.vec_id: (r.dup_of, r.is_kept) for r in dd}[1] == (None, True)


def test_knn_label_vote_ivf_probes_and_votes(spark):
    """IVF label propagation semantics: a corpus vector takes the majority
    label of its top-k among the seed vectors in its nprobe probed
    buckets ONLY — seeds in unprobed buckets are invisible (the
    scalability trade), and ties break on the smallest label."""
    # two well-separated clusters on the unit circle axes
    lab = [
        (1, [1.0, 0.0, 0.0, 0.0], "pos"),
        (2, [0.99, 0.1, 0.0, 0.0], "pos"),
        (3, [0.98, 0.15, 0.0, 0.0], "neg"),   # minority in +x cluster
        (4, [0.0, 0.0, 1.0, 0.0], "far"),     # +z cluster
        (5, [0.0, 0.0, 0.99, 0.1], "far"),
    ]
    unl = [
        (100, [0.97, 0.2, 0.0, 0.0], "pos"),  # +x query -> pos by 2:1
        (101, [0.0, 0.0, 0.97, 0.2], "far"),  # +z query -> far
    ]
    cen = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0]),
           (2, [0.0, 1.0, 0.0, 0.0])]
    labeled = spark.createDataFrame(
        lab, "vec_id long, embedding array<float>, label string")
    unlabeled = spark.createDataFrame(
        unl, "vec_id long, embedding array<float>, label string")
    centroids = spark.createDataFrame(
        cen, "centroid_id long, embedding array<float>")
    out = {
        r.query_id: r
        for r in similarity.knn_label_vote_ivf(
            labeled, unlabeled, centroids, k=3, nprobe=1
        ).collect()
    }
    assert out[100].predicted_label == "pos" and out[100].n_votes == 2
    assert out[100].correct
    # nprobe=1: query 101 probes only the +z bucket; the +x seeds never
    # become candidates even though k=3 > bucket size
    assert out[101].predicted_label == "far" and out[101].n_votes == 2
    assert out[101].correct

    # the namesake case (ADVICE r7): a GENUINELY unlabeled corpus — no
    # label column at all — predicts fine with NULL true_label/correct
    out = {
        r.query_id: r
        for r in similarity.knn_label_vote_ivf(
            labeled, unlabeled.drop("label"), centroids, k=3, nprobe=1
        ).collect()
    }
    assert out[100].predicted_label == "pos"
    assert out[100].true_label is None and out[100].correct is None
    assert out[101].predicted_label == "far"


def test_dedup_store_incremental_two_batches(spark, tmp_path):
    """MinHashDedupStore contract: batch 2 dedups against batch-1
    SURVIVORS and lower-id batch-mates; only kept docs' signatures are
    ever appended; verdicts stay correct after the append (materialized
    before the store gains the batch)."""
    from flux_spark.llm.dedup_store import MinHashDedupStore

    store = MinHashDedupStore(spark, tmp_path / "idx", threshold=0.5)
    assert store.signatures() is None
    b1 = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different content about spark engines and logs"),
        ],
        "doc_id long, text string",
    )
    v1 = {r.doc_id: (r.dup_of, r.is_kept) for r in store.ingest(b1).collect()}
    assert v1 == {1: (None, True), 2: (1, False), 3: (None, True)}
    b2 = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "brand new text never seen before in any batch at all"),
            (12, "brand new text never seen before in any batch at all"),
        ],
        "doc_id long, text string",
    )
    v2 = {r.doc_id: (r.dup_of, r.is_kept) for r in store.ingest(b2).collect()}
    # 10 matches STORED doc 1 (not the evicted 2); 12 matches batch-mate 11
    assert v2 == {10: (1, False), 11: (None, True), 12: (11, False)}
    # the store holds survivors only: 1, 3 (batch 1) + 11 (batch 2)
    assert sorted(r.doc_id for r in store.signatures().collect()) == [1, 3, 11]
    # idempotent reread: signatures carry bands for the next batch's join
    row = store.signatures().where("doc_id = 1").first()
    assert len(row.sig) == 16 and len(row.bands) == 4

    # compaction (VERDICT r7 #5): two batch dirs collapse to one; the
    # signature set, its contents, and future verdicts are unchanged
    before = {
        (r.doc_id, tuple(r.sig), tuple(r.bands))
        for r in store.signatures().collect()
    }
    assert len(store._batch_dirs()) == 2
    assert store.compact() == 2
    assert len(store._batch_dirs()) == 1
    after = {
        (r.doc_id, tuple(r.sig), tuple(r.bands))
        for r in store.signatures().collect()
    }
    assert after == before
    assert store.compact() == 0  # single dir: nothing to do
    b3 = spark.createDataFrame(
        [
            (20, "the quick brown fox jumps over the lazy dog today"),
            (21, "brand new text never seen before in any batch at all"),
        ],
        "doc_id long, text string",
    )
    v3 = {r.doc_id: (r.dup_of, r.is_kept) for r in store.ingest(b3).collect()}
    assert v3 == {20: (1, False), 21: (11, False)}


# -- MP4 container sampling (the former stub, r7) ----------------------------


def test_mp4_container_roundtrip_and_corruption():
    """Spark-free codec contract: writer and parser agree on every seed
    shape (chunk runs of 3 with partial tails, variable stsz); structural
    corruption raises instead of returning wrong frames."""
    import struct

    from flux_spark.llm.codecs import (
        MP4_FRAME_DUR,
        mp4_video_samples,
        synth_mp4_bytes,
        synth_mp4_frame_byte,
        synth_mp4_frame_size,
        synth_mp4_frames,
    )

    for seed in (0, 1, 7, 8, 15, 100):
        p = synth_mp4_bytes(seed)
        out = mp4_video_samples(p)
        n = synth_mp4_frames(seed)
        assert out["timescale"] == 1000
        assert [i for i, _, _ in out["frames"]] == list(range(n))
        for idx, pts, data in out["frames"]:
            assert pts == idx * MP4_FRAME_DUR
            assert len(data) == synth_mp4_frame_size(seed, idx)
            assert data == bytes(
                synth_mp4_frame_byte(seed, idx, j) for j in range(len(data))
            )
    # corruption: an stco offset pointing past EOF must raise, not slice
    p = bytearray(synth_mp4_bytes(3))
    at = p.find(b"stco")
    (n_off,) = struct.unpack_from(">I", p, at + 8)
    struct.pack_into(">I", p, at + 12, 2**24)  # first chunk offset -> junk
    with pytest.raises(ValueError):
        mp4_video_samples(bytes(p))
    # truncated file: moov cut off mid-box
    with pytest.raises(ValueError):
        mp4_video_samples(synth_mp4_bytes(3)[:-20])


# -- JPEG baseline codec (r8: the last formerly library-blocked format) ------


def test_jpeg_dc_exact_roundtrip():
    """Spark-free codec contract: the synthetic constant-block JPEGs
    decode to the exact integer formula the oracle mirrors, across every
    (width, height) shape the synthesis produces."""
    from flux_spark.llm import codecs as C

    for seed in range(24):
        out = C.decode_jpeg_bytes(C.synth_jpeg_bytes(seed))
        w, h = C.synth_jpeg_dims(seed)
        exp = sum(
            64 * C.synth_jpeg_pixel(seed, bx, by)
            for bx in range(w // 8)
            for by in range(h // 8)
        )
        assert out == {
            "width": w, "height": h, "channels": 1, "pixel_sum": exp,
        }, seed


def test_jpeg_matches_independent_dct_reference():
    """The full AC path (Huffman RLE, zigzag, dequant, IDCT) agrees
    EXACTLY with a test-local direct-cosine-sum implementation of the
    same pipeline — the only shared ingredient is the rounding rule, so
    a defect in either the encoder's or decoder's transform chain breaks
    the equality."""
    import math

    import numpy as np

    from flux_spark.llm import codecs as C

    def ref_pixel_sum(img, q, w, h):
        qm = np.array(
            [q[C.ZIGZAG.index(j)] for j in range(64)], dtype=np.float64
        ).reshape(8, 8)

        def cc(u):
            return 1 / math.sqrt(2) if u == 0 else 1.0

        def cos(i, u):
            return math.cos((2 * i + 1) * u * math.pi / 16)

        total = 0
        for by in range(h // 8):
            for bx in range(w // 8):
                blk = img[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
                F = np.zeros((8, 8))
                for u in range(8):
                    for v in range(8):
                        F[u, v] = 0.25 * cc(u) * cc(v) * sum(
                            blk[x, y] * cos(x, u) * cos(y, v)
                            for x in range(8)
                            for y in range(8)
                        )
                rec = np.floor(F / qm + 0.5 + 1e-9) * qm
                for x in range(8):
                    for y in range(8):
                        s = 0.25 * sum(
                            cc(u) * cc(v) * rec[u, v] * cos(x, u) * cos(y, v)
                            for u in range(8)
                            for v in range(8)
                        )
                        total += int(
                            min(255, max(0, math.floor(s + 128.5 + 1e-9)))
                        )
        return total

    rng = np.random.default_rng(7)
    for _ in range(2):
        img = rng.integers(0, 256, size=(16, 16)).astype(np.float64)
        q = [16] * 64
        p = C.encode_jpeg_bytes([img.reshape(-1).tolist()], 16, 16, qtable=q)
        assert (
            C.decode_jpeg_bytes(p)["pixel_sum"] == ref_pixel_sum(img, q, 16, 16)
        )


def test_jpeg_restart_color_odd_dims_and_corruption():
    import numpy as np

    from flux_spark.llm import codecs as C

    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, size=(16, 32)).astype(np.float64)
    flat = img.reshape(-1).tolist()
    p0 = C.encode_jpeg_bytes([flat], 32, 16)
    # restart intervals: DRI + RSTn markers present, identical pixels
    p1 = C.encode_jpeg_bytes([flat], 32, 16, restart_interval=3)
    assert b"\xff\xdd" in p1 and b"\xff\xd0" in p1
    assert C.decode_jpeg_bytes(p0) == C.decode_jpeg_bytes(p1)
    # 4:4:4 color: 3 channels out, YCbCr -> RGB applied
    y = rng.integers(0, 256, size=256).tolist()
    cb = rng.integers(96, 160, size=256).tolist()
    cr = rng.integers(96, 160, size=256).tolist()
    oc = C.decode_jpeg_bytes(C.encode_jpeg_bytes([y, cb, cr], 16, 16))
    assert oc["channels"] == 3 and oc["width"] == 16 and oc["height"] == 16
    # non-multiple-of-8 dims: edge-pad on encode, crop on decode
    img2 = rng.integers(0, 256, size=(13, 21)).astype(np.float64)
    o2 = C.decode_jpeg_bytes(
        C.encode_jpeg_bytes([img2.reshape(-1).tolist()], 21, 13)
    )
    assert (o2["width"], o2["height"]) == (21, 13)
    # quarantine: garbage, progressive SOF2, truncated segment, a
    # zero-overwritten entropy tail (no EOI), and a mid-scan truncation
    for bad in (
        b"nope",
        b"\xff\xd8\xff\xc2" + bytes(20),
        p0[:40],
        p0[:-30] + bytes(30),
        p0[: len(p0) // 2],
    ):
        with pytest.raises(ValueError):
            C.decode_jpeg_bytes(bad)


def test_decode_image_dispatches_png_and_jpeg(spark):
    """decode_image routes by magic number inside one Arrow batch: PNG
    and JPEG payloads mixed in the same column both decode to their
    synthesis formulas."""
    from flux_spark.llm import codecs as C

    ids = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    png = multimodal.with_png_media(ids.where("doc_id % 2 = 0"))
    jpg = multimodal.with_jpeg_media(ids.where("doc_id % 2 = 1"))
    out = {
        r.doc_id: r
        for r in multimodal.decode_image(png.unionByName(jpg)).collect()
    }
    assert len(out) == 6
    for i in (0, 2, 4):
        w, h = C.synth_png_dims(i)
        assert (out[i].width, out[i].height, out[i].channels) == (w, h, 3)
    for i in (1, 3, 5):
        w, h = C.synth_jpeg_dims(i)
        assert (out[i].width, out[i].height, out[i].channels) == (w, h, 1)
        assert out[i].pixel_sum == sum(
            64 * C.synth_jpeg_pixel(i, bx, by)
            for bx in range(w // 8)
            for by in range(h // 8)
        )


def test_sample_frames_container_sampling(spark, docs):
    """sample_frames pulls every Nth ENCODED sample out of a real
    ISO-BMFF container: right frames, right presentation times, right
    bytes — and the synthesized files pass the magic-number sniffer."""
    from flux_spark.llm.codecs import synth_mp4_frames

    media = multimodal.with_mp4_media(docs.select("doc_id"))
    out = multimodal.sample_frames(media, every_n=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for did, rows in by_doc.items():
        n = synth_mp4_frames(did)
        assert [r.frame_idx for r in sorted(rows, key=lambda r: r.frame_idx)] == list(
            range(0, n, 2)
        )
        for r in rows:
            assert r.pts_ms == r.frame_idx * 40
            assert r.n_bytes == len(r.frame)
            assert r.byte_sum == sum(bytes(r.frame))
    # sniffer integration: a real ftyp header routes these to 'mp4'
    sniffed = multimodal.sniff_media_type(media).collect()
    assert all(r.detected == "mp4" for r in sniffed)


# -- composed IVF-PQ (r8) -----------------------------------------------------


def test_ivf_pq_topk_matches_numpy_reference(spark):
    """Independent check (no DuckDB, no shared code): the whole IVFADC
    composition — cosine assignment, residual PQ encode, per-probe
    residual LUT, ADC ranking — recomputed with numpy on synthetic
    vectors."""
    import numpy as np
    from pyspark.sql import functions as F

    from flux_spark.llm import similarity

    n, dim, n_sub, n_cents, n_codes, nprobe, k = 24, 16, 4, 3, 5, 2, 4
    rng = [((i * 2654435761) % 997) / 997.0 - 0.5 for i in range(n * dim)]
    vecs = [rng[i * dim : (i + 1) * dim] for i in range(n)]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cents = df.where(F.col("vec_id") < n_cents).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cb = df.where(F.col("vec_id") < n_codes).select(
        F.col("vec_id").alias("code_id"), "embedding"
    )
    got = similarity.ivf_pq_topk(
        df,
        df.where(F.col("vec_id") < 2),
        cents,
        cb,
        k=k,
        nprobe=nprobe,
        n_sub=n_sub,
        dim=dim,
    ).collect()

    V = np.array(vecs, dtype=np.float32).astype(np.float64)
    C, CB = V[:n_cents], V[:n_codes]
    cos = (V @ C.T) / (
        np.linalg.norm(V, axis=1)[:, None] * np.linalg.norm(C, axis=1)[None, :]
    )
    bucket = np.argmax(cos, axis=1)  # first-on-ties = lowest cid
    sub = dim // n_sub

    def codes_for(vec, b):
        r = vec - C[b]
        out = []
        for s in range(n_sub):
            sl = slice(s * sub, (s + 1) * sub)
            out.append(int(np.argmin(((CB[:, sl] - r[sl]) ** 2).sum(axis=1))))
        return out

    enc = {i: codes_for(V[i], bucket[i]) for i in range(n)}
    expect = {}
    for q in range(2):
        probes = np.argsort(-cos[q], kind="stable")[:nprobe]
        cand = []
        for b in probes:
            r = V[q] - C[b]
            lut = [
                ((CB[:, s * sub : (s + 1) * sub]
                  - r[s * sub : (s + 1) * sub]) ** 2).sum(axis=1)
                for s in range(n_sub)
            ]
            for i in range(n):
                if i == q or bucket[i] != b:
                    continue
                d = sum(float(lut[s][enc[i][s]]) for s in range(n_sub))
                cand.append((d, i, int(b)))
        cand.sort()
        expect[q] = cand[:k]
    for row in got:
        d, i, b = expect[row["query_id"]][row["rank"] - 1]
        assert row["neighbor_id"] == i and row["bucket"] == b
        assert abs(row["adc_dist"] - d) < 1e-9
    assert len(got) == sum(min(k, len(v)) for v in expect.values())


# -- int8 scalar quantization (r8) -------------------------------------------


def test_int8_quantize_codes_and_edges(spark):
    from flux_spark.llm import similarity

    df = spark.createDataFrame(
        [
            (1, [1.0, -1.0, 0.5, 0.25]),      # m=1: codes 127,-127,64,32
            (2, [0.0, 0.0, 0.0, 0.0]),        # zero vector -> all zeros
            (3, [2.0, -4.0, 1.0, 0.0]),       # m=4: 64,-127,32,0
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in similarity.int8_quantize(df).collect()}
    assert out[1].codes == [127, -127, 64, 32] and out[1].maxabs == 1.0
    assert out[2].codes == [0, 0, 0, 0] and out[2].maxabs == 0.0
    # -4*127/4 + 0.5 = -126.5 -> floor = -127 (round-half-up), clamped fine
    assert out[3].codes == [64, -127, 32, 0] and out[3].maxabs == 4.0


def test_int8_topk_ranks_by_rescaled_integer_dot(spark):
    from flux_spark.llm import similarity

    rows = [
        (0, [1.0, 0.0]),    # query
        (1, [2.0, 0.0]),    # strongest dot (2.0)
        (2, [1.0, 1.0]),    # dot 1.0
        (3, [0.0, 1.0]),    # dot 0.0
        (4, [-1.0, 0.0]),   # dot -1.0
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.int8_topk(df, df.where("vec_id = 0"), k=4).collect()
    assert [r.neighbor_id for r in sorted(out, key=lambda r: r.rank)] == [
        1, 2, 3, 4,
    ]
    top = next(r for r in out if r.rank == 1)
    # q codes [127,0] m=1; c codes [127,0] m=2: dot=16129 -> 1*2/16129*16129
    assert top.approx_dot == 2.0


# -- containment pairs (r8) --------------------------------------------------


def test_containment_catches_subset_jaccard_misses(spark):
    from flux_spark.llm import dedup

    short = "alpha beta gamma delta"
    long_ = (
        "intro words here first " + short + " and then a very long tail "
        "of completely unrelated filler content going on and on forever "
        "about spark engines logs brokers partitions offsets and more"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long_)], "doc_id long, text string"
    )
    got = dedup.containment_pairs(df, threshold=0.8).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.containment_a_in_b == 1.0       # every shingle of A is in B
    assert r.jaccard < 0.2                    # Jaccard would never flag it
    assert r.containment_b_in_a < 0.2
    # the Jaccard op at the same bar indeed misses the pair
    assert dedup.ngram_jaccard_pairs(df, threshold=0.8).count() == 0


# -- winnowing fingerprints (r8) ---------------------------------------------


def test_winnowing_guarantee_and_shift_invariance(spark):
    """The winnowing guarantee (k=3, w=4): two documents sharing a token
    run of >= w + k - 1 = 6 tokens select at least one COMMON
    fingerprint, regardless of where the run sits in either doc; docs
    with no shared run share nothing."""
    shared = "alpha beta gamma delta epsilon zeta"  # 6-token shared run
    rows = [
        (1, shared + " completely different tail content here now"),
        (2, "unrelated lead tokens first then " + shared),
        (3, "nothing in common with either of those two documents at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in text.winnow_fingerprints(df).collect()}
    f1, f2, f3 = (set(out[i].fps) for i in (1, 2, 3))
    assert f1 & f2, "shared 6-token run must yield a common fingerprint"
    assert not (f1 & f3) and not (f2 & f3)
    # density: selection keeps ~1/w of the grams, never more than windows
    for r in out.values():
        assert 1 <= r.n_selected <= r.n_windows
        assert r.fp_sum == sum(r.fps)

    # short-doc fallback: < k tokens -> single whole-text gram
    tiny = spark.createDataFrame([(9, "ab cd")], "doc_id long, text string")
    t = text.winnow_fingerprints(tiny).collect()[0]
    assert (t.n_grams, t.n_windows, t.n_selected) == (1, 1, 1)


# -- RAG chunk windows (r8) ---------------------------------------------------


def test_chunk_windows_boundaries_and_coverage(spark):
    """Edge cases of the sliding-window formula: n < w (one chunk),
    n == w (one chunk), n == w + 1 (two, second is the short tail),
    zero-token doc (no rows); every token is covered and consecutive
    chunks overlap by exactly window - stride tokens."""
    from flux_spark.llm import text

    docs = [
        (1, "a b c"),                                  # n=3 < w
        (2, " ".join(f"t{i}" for i in range(8))),      # n == w
        (3, " ".join(f"t{i}" for i in range(9))),      # n == w+1 -> 2 chunks
        (4, " ".join(f"t{i}" for i in range(23))),     # long
        (5, "   "),                                    # zero tokens
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = text.chunk_windows(df, window=8, stride=6).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 5 not in by_doc
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_text"] == "a b c"
    assert len(by_doc[2]) == 1 and by_doc[2][0]["n_chunk_tokens"] == 8
    assert len(by_doc[3]) == 2
    assert [r["n_chunk_tokens"] for r in sorted(by_doc[3], key=lambda r: r["chunk_id"])] == [8, 3]
    # doc 4: n=23 -> 1 + ceil(15/6) = 4 chunks; full coverage, 2-token overlap
    rows = sorted(by_doc[4], key=lambda r: r["chunk_id"])
    assert len(rows) == 4
    toks = docs[3][1].split(" ")
    covered = set()
    for r in rows:
        got = r["chunk_text"].split(" ")
        assert got == toks[r["start_token"] : r["start_token"] + 8]
        covered.update(range(r["start_token"], r["start_token"] + len(got)))
    assert covered == set(range(23))
    for a, b in zip(rows, rows[1:]):
        assert b["start_token"] - a["start_token"] == 6


# -- edit-distance verification of LSH candidates (r8) ------------------------


def test_edit_verified_pairs_rejects_reordered_text(spark):
    """The case the verify stage exists for: a block-swapped document
    keeps most of its trigram shingles (high Jaccard, LSH pairs it) but
    has a huge edit distance — shingle similarity says near-dup, edit
    similarity vetoes. Exact duplicates verify with lev_dist = 0."""
    words = [f"w{i:02d}" for i in range(40)]
    a = " ".join(words)
    swapped = " ".join(words[20:] + words[:20])
    rows = [(1, a), (2, a), (3, swapped)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r["id_a"], r["id_b"]): r
        for r in dedup.edit_verified_pairs(df, threshold=0.5).collect()
    }
    exact = out[(1, 2)]
    assert exact["lev_dist"] == 0 and exact["edit_sim"] == 1.0
    assert exact["verified"]
    assert (1, 3) in out, "block swap keeps shingle Jaccard above 0.5"
    sw = out[(1, 3)]
    assert sw["jaccard"] >= 0.5 and sw["lev_dist"] > 20
    assert sw["edit_sim"] < 0.8
    assert not sw["verified"], "edit similarity must veto the reordering"


# -- cluster-quality report (r8) ----------------------------------------------


def test_cluster_quality_report_semantics(spark):
    """Hand-checkable fixture: two tight clusters on orthogonal axes.
    Members assign by cosine, SSE/mean_cos come out exactly, separation
    is the L2 between the two centroids."""
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # centroid 0
        (1, [0.0, 1.0, 0.0, 0.0]),   # centroid 1
        (2, [2.0, 0.0, 0.0, 0.0]),   # cluster 0 (cos=1, d2=1)
        (3, [0.0, 3.0, 0.0, 0.0]),   # cluster 1 (cos=1, d2=4)
        (4, [1.0, 0.0, 0.0, 0.0]),   # cluster 0 exact (d2=0)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    out = {
        r["cluster_id"]: r
        for r in similarity.cluster_quality_report(df, cents, dim=4).collect()
    }
    assert out[0]["n_members"] == 3 and out[1]["n_members"] == 2
    assert abs(out[0]["sse"] - 1.0) < 1e-8       # 0 + 1 + 0
    assert abs(out[1]["sse"] - 4.0) < 1e-8
    assert abs(out[0]["mean_cos"] - 1.0) < 1e-8
    assert out[0]["nearest_cid"] == 1 and out[1]["nearest_cid"] == 0
    assert abs(out[0]["centroid_sep"] - math.sqrt(2)) < 1e-12


# -- per-dimension stats + z-score (r8) ---------------------------------------


def test_zscore_normalize_centers_and_scales(spark):
    import numpy as np

    rows = [(i, [float(i), 10.0 * i + 5.0, 7.0]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = np.array(
        [r["normalized"] for r in
         similarity.zscore_normalize(df).orderBy("vec_id").collect()]
    )
    # dims 0/1 standardized; constant dim 2 centered but unscaled
    assert abs(out[:, 0].mean()) < 1e-6 and abs(out[:, 0].std() - 1) < 1e-6
    assert abs(out[:, 1].mean()) < 1e-6 and abs(out[:, 1].std() - 1) < 1e-6
    assert np.allclose(out[:, 2], 0.0, atol=1e-6)
    stats = {r["dim_idx"]: r for r in similarity.dim_stats(df).collect()}
    assert abs(stats[0]["mean"] - 3.5) < 1e-8
    assert stats[2]["min_val"] == stats[2]["max_val"] == 7.0


def test_mixture_temperature_upsamples_tail(spark):
    """T=0.7 lifts low-resource shares and shrinks head shares, but less
    than uniform targeting would; shares renormalize to 1."""
    from flux_spark.llm.queries import LLM_QUERIES
    import tempfile, os
    doc_mixture_temperature = LLM_QUERIES["doc_mixture_temperature"].fn
    rows = [(i, "x", "en", "web", 1) for i in range(90)] + [
        (100 + i, "x", "sw", "web", 1) for i in range(10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = {r["lang"]: r for r in doc_mixture_temperature(spark, d).collect()}
    assert abs(sum(r["temp_share"] for r in out.values()) - 1.0) < 1e-9
    # tail upsampled (weight > 1) but far less than the 5x uniform target
    assert 1.0 < out["sw"]["sample_weight"] < 5.0
    assert out["en"]["sample_weight"] < 1.0
    assert out["sw"]["temp_share"] > out["sw"]["actual_share"]


# -- perceptual image hash (r8) -----------------------------------------------


def test_image_ahash_stability_under_brightness_shift(spark):
    """Identical images hash identically; a global +1 brightness shift
    (re-encoded as a fresh PNG) moves only boundary cells — small
    Hamming distance — while a different image is far away."""
    from flux_spark.llm.codecs import encode_png_bytes, png_pixels, synth_png_bytes

    base = synth_png_bytes(42)
    w, h, ch, data = png_pixels(base)
    shifted = encode_png_bytes(
        bytes(min(b + 1, 255) for b in data), w, h, ch
    )
    # reversed gradient: bright rows where base is dark -> near-complement
    other = encode_png_bytes(data[::-1], w, h, ch)
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(base)),
         (3, bytearray(shifted)), (4, bytearray(other))],
        "doc_id long, media binary",
    )
    out = {r["doc_id"]: r for r in multimodal.image_ahash(df).collect()}

    def ham(a, b):
        return (
            bin((a["hash_w0"] ^ b["hash_w0"]) & 0xFFFFFFFF).count("1")
            + bin((a["hash_w1"] ^ b["hash_w1"]) & 0xFFFFFFFF).count("1")
        )

    assert ham(out[1], out[2]) == 0
    assert ham(out[1], out[3]) <= 8, "brightness shift must stay near"
    assert ham(out[1], out[4]) > 32, "reversed image must be far"


def test_image_near_dup_pairs_banding_and_cap(spark):
    """A brightness-shifted copy pairs with its source at small Hamming;
    the reversed-gradient image pairs with neither; the bucket cap drops
    a mega-band when enabled."""
    from flux_spark.llm.codecs import encode_png_bytes, png_pixels, synth_png_bytes

    base = synth_png_bytes(7)
    w, h, ch, data = png_pixels(base)
    near = encode_png_bytes(
        bytes(min(b + 1, 255) for b in data), w, h, ch
    )
    far = encode_png_bytes(data[::-1], w, h, ch)
    df = spark.createDataFrame(
        [(1, bytearray(base)), (2, bytearray(near)), (3, bytearray(far))],
        "doc_id long, media binary",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in multimodal.image_near_dup_pairs(df).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert all(3 not in p for p in pairs)
    # cap: with max_bucket_size=1 every band bucket holding >1 row drops,
    # so no pairs survive
    assert (
        multimodal.image_near_dup_pairs(df, max_bucket_size=1).count() == 0
    )


def test_markup_stats_flags_boilerplate(spark):
    rows = [
        (1, "plain prose about nothing much at all"),
        (2, '<div id="a"> <b>bold</b> see https://x.org/1 https://x.org/2 '
            "https://x.org/3 {code} {more} {yet} {four} | 99 HTML OK"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in text.markup_stats(df).collect()}
    clean, markup = out[1], out[2]
    assert not clean["looks_markup"]
    assert clean["n_urls"] == clean["n_tags"] == clean["n_braces"] == 0
    assert markup["looks_markup"]
    assert markup["n_urls"] == 3
    assert markup["n_tags"] == 2  # <div>, <b>; </b> excluded (starts with /)
    assert markup["n_braces"] == 8
    assert markup["n_caps_tokens"] == 2  # HTML, OK


def test_mutual_topk_pairs_drops_one_directional_edges(spark):
    """Hand fixture: a hub everyone ranks first but which reciprocates
    only its true neighbor — only the reciprocated edge survives."""
    topk = spark.createDataFrame(
        [
            # hub 0 reciprocates only 1
            (0, 1, 0.9, 1),
            # 1 and 2 both rank the hub first
            (1, 0, 0.9, 1), (1, 2, 0.5, 2),
            (2, 0, 0.8, 1), (2, 1, 0.5, 2),
        ],
        "query_id long, neighbor_id long, cos_sim double, rank int",
    )
    out = {
        (r["id_a"], r["id_b"]): (r["rank_ab"], r["rank_ba"])
        for r in similarity.mutual_topk_pairs(topk).collect()
    }
    assert out == {(0, 1): (1, 1), (1, 2): (2, 2)}, out


# -- power iteration / SIF (r8) -----------------------------------------------


def test_power_iteration_finds_dominant_direction(spark):
    import numpy as np

    rows = []
    for i in range(40):
        v = [0.0] * 8
        v[2] = 5.0 + (i % 3)          # dominant axis
        v[5] = 0.3 * ((i % 7) - 3)    # minor noise axis
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["dim_idx"]: r["u_val"]
        for r in similarity.power_iteration_top_component(
            df, dim=8, iterations=4
        ).collect()
    }
    assert abs(out[2]) == max(abs(v) for v in out.values()) == 1.0
    assert all(abs(out[j]) < 0.2 for j in out if j not in (2, 5))

    u = [out[j] for j in range(8)]
    res = similarity.remove_top_component(df, u, out_col="res").collect()
    U = np.array(u)
    for r in res:
        assert abs(np.dot(np.array(r["res"]), U)) < 1e-6


def test_line_dedup_removes_corpus_frequent_lines_only(spark):
    from flux_spark.llm.dedup import line_dedup

    boiler = "all rights reserved"
    rows = [
        # 3 docs share the boilerplate line -> removed everywhere
        (1, "unique alpha text\n" + boiler),
        (2, boiler + "\nunique beta text"),
        (3, "unique gamma\n" + boiler + "\nunique delta"),
        # within-doc repetition of a corpus-RARE line is preserved
        (4, "rare line\nrare line\nother text"),
        # all-boilerplate doc survives as empty string
        (5, boiler),
        (6, boiler),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in line_dedup(df, min_docs=3).collect()
    }
    assert out[1]["clean_text"] == "unique alpha text"
    assert out[2]["clean_text"] == "unique beta text"
    assert out[3]["clean_text"] == "unique gamma\nunique delta"
    assert (out[3]["n_lines"], out[3]["n_kept_lines"]) == (3, 2)
    # doc 4: "rare line" appears twice but only in ONE document -> kept
    assert out[4]["clean_text"] == "rare line\nrare line\nother text"
    # docs 5/6 were pure boilerplate (line present in docs 1,2,3,5,6)
    assert out[5]["clean_text"] == ""
    assert out[5]["n_kept_lines"] == 0


def test_rp_projection_preserves_neighborhoods(spark):
    """JL projection sanity: the projected dot of a vector with itself
    dominates its projected dot with an orthogonal vector, and rp_topk
    ranks an exact duplicate first."""
    from flux_spark.llm import similarity

    planes = similarity.hyperplanes(16, 8)
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),  # dup of 0
        (2, [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0]),
        (3, [0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = similarity.rp_topk(
        df, df.where("vec_id = 0"), planes, k=1
    ).collect()
    assert len(top) == 1
    assert top[0]["neighbor_id"] == 1  # the exact duplicate wins
    # projection width = len(planes)
    from pyspark.sql import functions as F

    w = df.select(
        F.size(similarity.rp_project(F.col("embedding"), planes)).alias("w")
    ).first()["w"]
    assert w == 16


def test_cusum_changepoint_locates_planted_mean_shift(spark, tmp_path):
    """A daily count series flat at 10 for 10 days then flat at 50 for
    10 days has its CUSUM argmax exactly at the last low day."""
    import datetime

    import flux_spark.analytics.drift_queries  # noqa: F401 — registration
    from flux_spark.analytics.registry import ANALYTICS_QUERIES

    rows = []
    eid = 0
    for d in range(20):
        n = 10 if d < 10 else 50
        day = datetime.datetime(2024, 1, 1) + datetime.timedelta(days=d)
        for i in range(n):
            rows.append(
                (eid, day + datetime.timedelta(seconds=i), 1, "click", 1.0, "{}")
            )
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    p = str(tmp_path / "events.parquet")
    df.write.parquet(p)
    # registry queries read {sf_dir}/events.parquet
    out = ANALYTICS_QUERIES["events_cusum_changepoint"].fn(
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert str(r["cp_day"]) == "2024-01-10"  # last day of the low regime
    assert r["n_days"] == 20 and r["total_events"] == 600
    # planted shift: S_t = n*cum - t*T peaks at |20*100 - 10*600| = 4000
    assert r["cusum_stat"] == 4000


def test_phash_brightness_invariant_where_ahash_is_not(spark):
    """A uniform non-saturating brightness shift moves only the DC
    coefficient, so pHash (DC excluded) is bit-identical while the same
    shift can flip aHash bits sitting near the mean."""
    from flux_spark.llm.codecs import encode_png_bytes
    from flux_spark.llm.multimodal import image_ahash, image_phash

    w, h = 16, 12
    base = bytes(
        min(200, (3 * x + 5 * y + (x * y) % 37) % 201)
        for y in range(h)
        for x in range(w)
        for _ in range(3)
    )
    shifted = bytes(min(255, b + 40) for b in base)  # no clamp: max 240
    rows = [
        (0, bytearray(encode_png_bytes(base, w, h, 3))),
        (1, bytearray(encode_png_bytes(shifted, w, h, 3))),
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, media BINARY")
    ph = {r["doc_id"]: (r["hash_w0"], r["hash_w1"])
          for r in image_phash(df).collect()}
    assert ph[0] == ph[1], "pHash must ignore a uniform brightness shift"
    ah = {r["doc_id"]: (r["hash_w0"], r["hash_w1"])
          for r in image_ahash(df).collect()}
    # aHash stays *similar* but the test only pins the pHash property;
    # sanity: both images decoded to the same dimensions
    assert set(ph) == set(ah) == {0, 1}


def test_phash_oracle_magnitude_bound():
    """The Q14 DCT stays inside int64 even at all-255 pixels."""
    import numpy as np

    from flux_spark.llm.multimodal import DCT8_Q14

    C = np.array(DCT8_Q14, dtype=np.int64)
    g = np.full((8, 8), 255, dtype=np.int64)
    d = C @ (g @ C.T)
    assert np.abs(d).max() * 63 < 2**62


def test_wordpiece_tokenize_roundtrips_and_is_greedy(spark, sf_dir):
    """Tokenization is lossless (pieces concatenate back to the exact
    original text) and greedy (a word starting with a vocab trigram
    never begins with that trigram's single-char split)."""
    from flux_spark.llm.queries import LLM_QUERIES

    out = {
        r["doc_id"]: r
        for r in LLM_QUERIES["doc_wordpiece_tokenize"].fn(
            spark, sf_dir
        ).collect()
    }
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    }
    assert set(out) == set(docs)
    for did, r in out.items():
        # round-trip: strip the piece separators, compare to the
        # space-stripped source text
        assert r["tok_text"].replace(" ", "") == docs[did].replace(" ", "")
        assert r["n_pieces"] >= r["n_words"]
        assert r["wp_fertility"] >= 1.0


def test_bpe_train_merges_are_monotone_and_applied(spark, sf_dir):
    """BPE invariant: each round's best-pair count is <= the previous
    round's (a new merged symbol can appear at most as often as the pair
    that created it), and the learned merges are over non-empty symbols."""
    from flux_spark.llm.queries import LLM_QUERIES

    rows = (
        LLM_QUERIES["doc_bpe_train"]
        .fn(spark, sf_dir)
        .orderBy("merge_rank")
        .collect()
    )
    assert len(rows) == 8
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    for r in rows:
        assert r["left_sym"] and r["right_sym"]


def test_safety_screen_density_rule(spark, sf_dir):
    """The planted fixture flags exactly the doc_id % 13 == 0 docs (1-2
    blocklist tokens each), and drops are a subset of flags (the > 5%
    density bar can only fire on a flagged doc — short docs may cross
    it, long word-soup docs can't)."""
    from flux_spark.analytics.registry import load_table
    from flux_spark.llm.queries import LLM_QUERIES

    rows = LLM_QUERIES["doc_safety_screen"].fn(spark, sf_dir).collect()
    n_planted = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id % 13 = 0")
        .count()
    )
    assert sum(r["n_flagged"] for r in rows) == n_planted
    assert sum(r["total_hits"] for r in rows) >= n_planted
    for r in rows:
        assert r["n_dropped"] <= r["n_flagged"]


# -- JPEG 4:2:0 chroma subsampling (r9) ---------------------------------------


def test_jpeg_420_exact_roundtrip():
    """Constant-MCU 4:2:0 color files decode to the exact per-MCU RGB
    formula the oracle mirrors (flat-16 round trip + replication
    upsample + BT.601), across every dims shape the synthesis makes."""
    import numpy as np

    from flux_spark.llm import codecs as C

    for seed in range(24):
        w, h, ch, pix = C.jpeg_pixels(C.synth_jpeg420_bytes(seed))
        ew, eh = C.synth_jpeg420_dims(seed)
        assert (w, h, ch) == (ew, eh, 3), seed
        arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
        for my in range(h // 16):
            for mx in range(w // 16):
                exp = np.array(C.synth_jpeg420_rgb(seed, mx, my), np.uint8)
                tile = arr[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16]
                assert (tile == exp).all(), (seed, mx, my)


def test_jpeg_420_odd_dims_and_422():
    """Non-MCU-multiple dims (plane padding + crop) and 4:2:2 sampling
    both decode to the closed form; restart intervals don't change
    output."""
    import math

    import numpy as np

    from flux_spark.llm import codecs as C

    def ycc(mx, my):
        return (
            (37 + mx * 13 + my * 29) % 256,
            (91 + mx * 17 + my * 23) % 256,
            (11 + mx * 19 + my * 31) % 256,
        )

    def expected(cy, cb, cr):
        y, b_, r_ = (float(C._jpeg_q16_roundtrip(v)) for v in (cy, cb, cr))
        rr = y + 1.402 * (r_ - 128.0)
        gg = y - 0.344136 * (b_ - 128.0) - 0.714136 * (r_ - 128.0)
        bb = y + 1.772 * (b_ - 128.0)
        return tuple(
            min(255, max(0, int(math.floor(c + 0.5 + 1e-9))))
            for c in (rr, gg, bb)
        )

    # 24x40: partial MCU column under 4:2:0
    w, h = 24, 40
    Y = [ycc(x // 16, y // 16)[0] for y in range(h) for x in range(w)]
    Cb = [ycc(x // 8, y // 8)[1] for y in range(h // 2) for x in range(w // 2)]
    Cr = [ycc(x // 8, y // 8)[2] for y in range(h // 2) for x in range(w // 2)]
    samp = [(2, 2), (1, 1), (1, 1)]
    p = C.encode_jpeg_bytes([Y, Cb, Cr], w, h, sampling=samp)
    gw, gh, ch, pix = C.jpeg_pixels(p)
    assert (gw, gh, ch) == (w, h, 3)
    arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
    for y in range(h):
        for x in range(w):
            assert tuple(arr[y, x]) == expected(*ycc(x // 16, y // 16)), (x, y)
    # restart interval is output-invariant
    p_dri = C.encode_jpeg_bytes([Y, Cb, Cr], w, h, sampling=samp,
                                restart_interval=2)
    assert C.jpeg_pixels(p_dri)[3] == pix
    # 4:2:2: horizontal-only subsampling
    w, h = 32, 16
    Y = [ycc(x // 16, y // 16)[0] for y in range(h) for x in range(w)]
    Cb = [ycc(x // 8, y // 8)[1] for y in range(h) for x in range(w // 2)]
    Cr = [ycc(x // 8, y // 8)[2] for y in range(h) for x in range(w // 2)]
    p = C.encode_jpeg_bytes([Y, Cb, Cr], w, h,
                            sampling=[(2, 1), (1, 1), (1, 1)])
    gw, gh, ch, pix = C.jpeg_pixels(p)
    assert (gw, gh, ch) == (w, h, 3)
    arr = np.frombuffer(pix, dtype=np.uint8).reshape(h, w, 3)
    for y in range(h):
        for x in range(w):
            cy = ycc(x // 16, y // 16)[0]
            _, cb, cr = ycc(x // 16, y // 8)
            assert tuple(arr[y, x]) == expected(cy, cb, cr), (x, y)


def test_jpeg_exif_orientation():
    """EXIF APP1 orientation: all eight legal values round-trip through
    encode -> header scan; little-endian TIFF parses too; absent or
    malformed EXIF falls back to the spec default (1 = upright); decode
    ignores the APP1 entirely."""
    import struct

    from flux_spark.llm import codecs as C

    for seed in range(16):
        m = C.jpeg_header_metadata(C.synth_jpeg_bytes(seed))
        assert m["orientation"] == C.synth_jpeg_orientation(seed) == 1 + seed % 8
    # 4:2:0 / progressive synths carry no EXIF -> default 1
    assert C.jpeg_header_metadata(C.synth_jpeg420_bytes(3))["orientation"] == 1
    assert (
        C.jpeg_header_metadata(C.synth_jpeg_progressive_bytes(3))["orientation"]
        == 1
    )
    # little-endian TIFF body
    le = (
        b"II\x2a\x00"
        + struct.pack("<I", 8)
        + struct.pack("<H", 1)
        + struct.pack("<HHI", 0x0112, 3, 1)
        + struct.pack("<HH", 6, 0)
        + struct.pack("<I", 0)
    )
    assert C._parse_exif_orientation(le) == 6
    # malformed: bad byte order, bad magic, truncated IFD, out-of-range value
    assert C._parse_exif_orientation(b"XX" + le[2:]) is None
    assert C._parse_exif_orientation(b"II\x2b\x00" + le[4:]) is None
    assert C._parse_exif_orientation(le[:10]) is None
    bad_val = le[:18] + struct.pack("<HH", 9, 0) + le[22:]
    assert C._parse_exif_orientation(bad_val) is None
    # EXIF presence must not change decoded pixels
    w, h, ch, pix = C.jpeg_pixels(C.synth_jpeg_bytes(5))
    assert (w, h) == C.synth_jpeg_dims(5) and ch == 1
    assert pix[0] == C.synth_jpeg_pixel(5, 0, 0)


def test_jpeg_kind_census_fields_and_decodability():
    """Header scan classifies SOF kind + sampling for all three corpus
    classes; since r10 the progressive class is REAL decodable files."""
    from flux_spark.llm import codecs as C

    for seed in (0, 1, 2, 5, 7):
        m = C.jpeg_header_metadata(C.synth_jpeg_bytes(seed))
        assert (m["sof_kind"], m["sampling"]) == ("baseline", "gray")
        m = C.jpeg_header_metadata(C.synth_jpeg420_bytes(seed))
        assert (m["sof_kind"], m["sampling"]) == ("baseline", "4:2:0")
        assert (m["width"], m["height"]) == C.synth_jpeg420_dims(seed)
        m = C.jpeg_header_metadata(C.synth_jpeg_progressive_bytes(seed))
        assert (m["sof_kind"], m["sampling"]) == ("progressive", "4:2:0")
        assert (m["width"], m["height"]) == C.synth_jpeg_dims(seed)
        w, h, ch, _pix = C.jpeg_pixels(C.synth_jpeg_progressive_bytes(seed))
        assert (w, h, ch) == (*C.synth_jpeg_dims(seed), 3)


def test_jpeg_progressive_equals_baseline_decode():
    """The hard pin for SOF2 support (r10): a progressive file and a
    baseline file of the SAME planes (identical forward quantization)
    must decode to bit-identical pixels — across grayscale and
    subsampled color, partial blocks, deep successive approximation,
    every spectral split, sparse blocks (ZRL + EOB-run paths), and
    dense high-frequency blocks (correction-bit paths)."""
    import numpy as np

    from flux_spark.llm import codecs as C

    for seed in range(6):
        rng = np.random.RandomState(seed)
        w = int(rng.randint(8, 49))
        h = int(rng.randint(8, 41))
        kind = seed % 3
        if kind == 0:
            img = rng.randint(0, 256, size=(h, w))
        elif kind == 1:  # flat with spikes -> sparse coefs, ZRL/EOB runs
            img = np.full((h, w), 128)
            for _ in range(4):
                img[rng.randint(h), rng.randint(w)] = rng.choice([0, 255])
        else:  # checkerboard -> dense late-band coefficients
            yy, xx = np.mgrid[0:h, 0:w]
            img = ((xx + yy) % 2) * 255
        plane = img.reshape(-1).tolist()
        for q in (None, [1] * 64):
            base = C.jpeg_pixels(C.encode_jpeg_bytes([plane], w, h, qtable=q))
            for dc_al, ac_al, split in [(1, 1, 5), (3, 3, 2), (0, 2, 35)]:
                prog = C.jpeg_pixels(
                    C.encode_jpeg_progressive_bytes(
                        [plane], w, h, qtable=q,
                        dc_al=dc_al, ac_al=ac_al, ac_split=split,
                    )
                )
                assert prog == base, (seed, q is None, dc_al, ac_al, split)
    # color: 4:2:0 and 4:2:2 with odd dims
    rng = np.random.RandomState(99)
    for samp in ([(2, 2), (1, 1), (1, 1)], [(2, 1), (1, 1), (1, 1)]):
        w, h = 35, 19
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        planes = []
        for hi, vi in samp:
            cw = (w * hi + hmax - 1) // hmax
            ch = (h * vi + vmax - 1) // vmax
            planes.append(
                rng.randint(0, 256, size=(ch, cw)).reshape(-1).tolist()
            )
        base = C.jpeg_pixels(C.encode_jpeg_bytes(planes, w, h, sampling=samp))
        prog = C.jpeg_pixels(
            C.encode_jpeg_progressive_bytes(
                planes, w, h, sampling=samp, dc_al=2, ac_al=2, ac_split=9
            )
        )
        assert prog == base, samp


def test_jpeg_progressive_synth_matches_formula():
    """The gate fixture decodes to the symbolic per-MCU formula."""
    import numpy as np

    from flux_spark.llm import codecs as C

    for seed in (0, 1, 2, 5, 11):
        w, h = C.synth_jpeg_dims(seed)
        gw, gh, ch, pix = C.jpeg_pixels(C.synth_jpeg_progressive_bytes(seed))
        assert (gw, gh, ch) == (w, h, 3)
        arr = np.frombuffer(pix, np.uint8).reshape(h, w, 3)
        for my in range((h + 15) // 16):
            for mx in range((w + 15) // 16):
                exp = np.array(C.synth_jpeg420_rgb(seed, mx, my), np.uint8)
                got = arr[my * 16 : my * 16 + 16, mx * 16 : mx * 16 + 16]
                assert (got == exp).all(), (seed, mx, my)


def test_jpeg_single_component_frame_ignores_sampling_factors():
    """T.81 A.2 (r9 advisor finding): a grayscale FRAME declaring 2x2
    sampling factors (e.g. jpegtran -grayscale output) is coded
    non-interleaved — one data unit per MCU, raster at full resolution.
    Build such a file by patching the SOF of a 1x1 encode; the decode
    must be byte-identical to the unpatched file."""
    import numpy as np

    from flux_spark.llm import codecs as C

    rng = np.random.RandomState(3)
    w, h = 32, 16  # MCU-aligned either way: the silent-scramble shape
    img = rng.randint(0, 256, size=(h, w))
    p = C.encode_jpeg_bytes([img.reshape(-1).tolist()], w, h)
    ref = C.jpeg_pixels(p)
    sof = p.find(b"\xff\xc0")
    assert sof > 0 and p[sof + 11] == 0x11  # (Hi=1, Vi=1) of component 1
    patched = p[: sof + 11] + b"\x22" + p[sof + 12 :]  # declare 2x2
    assert C.jpeg_pixels(patched) == ref
    # encoder mirror: 1-plane input must reject non-1x1 sampling
    import pytest

    with pytest.raises(ValueError):
        C.encode_jpeg_bytes(
            [img.reshape(-1).tolist()], w, h, sampling=[(2, 2)]
        )
    with pytest.raises(ValueError):
        C.encode_jpeg_progressive_bytes(
            [img.reshape(-1).tolist()], w, h, sampling=[(2, 2)]
        )
