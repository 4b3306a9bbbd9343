"""ET operator e2e tests (reference style: TextSpec/CacheExtSpec/
TreeBuildExtSpec patterns — SURVEY.md §5)."""


def test_table_repartition(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/lineitem.parquet` as li;
    run li as TableRepartition.`` where partitionNum="4" as out;
    """)
    assert df.rdd.getNumPartitions() == 4


def test_pivot(engine):
    df = engine.execute("""
    set data = '''
    {"year":"2023","month":"1","amount":10.0}
    {"year":"2023","month":"2","amount":20.0}
    {"year":"2024","month":"1","amount":5.0}
    ''';
    load jsonStr.`data` as t;
    run t as Pivot.`` where groupCols="year" and pivotCol="month" and aggExpr="sum(amount)" as out;
    """)
    rows = {r["year"]: r for r in df.collect()}
    assert rows["2023"]["1"] == 10.0
    assert rows["2023"]["2"] == 20.0
    assert rows["2024"]["2"] is None


def test_rate_sampler_exact_split(engine):
    lines = "\n".join('{"label":%d,"f1":%f}' % (i % 3, i * 1.0) for i in range(100))
    engine.execute(f"set data = '''{lines}''';")
    df = engine.execute("""
    load jsonStr.`data` as t;
    run t as RateSampler.`` where labelCol="label" and sampleRate="0.8,0.2" as out;
    """)
    counts = {(r["label"], r["__split__"]): r["c"] for r in
              df.groupBy("label", "__split__").count().withColumnRenamed("count", "c").collect()}
    # 100 rows: labels 0 (34 rows), 1 (33), 2 (33); 80% split rounds per label
    for label in (0, 1, 2):
        total = sum(v for (l, _), v in counts.items() if l == label)
        train = counts.get((label, 0), 0)
        assert abs(train / total - 0.8) < 0.05


def test_tree_build_ext(engine):
    df = engine.execute("""
    set data = '''
    {"id":1,"parentId":0}
    {"id":2,"parentId":1}
    {"id":3,"parentId":2}
    {"id":4,"parentId":0}
    ''';
    load jsonStr.`data` as t;
    run t as TreeBuildExt.`` where idCol="id" and parentIdCol="parentId" as out;
    """)
    levels = {r["id"]: r["level"] for r in df.collect()}
    assert levels == {1: 1, 2: 2, 3: 3, 4: 1}


def test_auto_increment_key(engine):
    df = engine.execute("""
    select explode(sequence(1, 5)) as v as t;
    run t as AutoIncrementKeyExt.`` where idCol="rid" and dense="true" as out;
    """)
    ids = sorted(r["rid"] for r in df.collect())
    assert ids == [0, 1, 2, 3, 4]


def test_cache_ext(engine):
    """session-lifetime caches survive the script; script-lifetime ones
    are unpersisted at script end (see test_cache_script_lifetime)."""
    df = engine.execute("""
    select 1 as a as t;
    !cache t session;
    """)
    assert df.storageLevel.useMemory
    engine.execute("!uncache t;")


def test_confusion_matrix(engine):
    df = engine.execute("""
    set data = '''
    {"label":"a","prediction":"a"}
    {"label":"a","prediction":"b"}
    {"label":"b","prediction":"b"}
    ''';
    load jsonStr.`data` as t;
    run t as ConfusionMatrix.`` where actualCol="label" and predictCol="prediction" as out;
    """)
    rows = {r["label"]: r for r in df.collect()}
    assert rows["a"]["a"] == 1 and rows["a"]["b"] == 1 and rows["b"]["b"] == 1


def test_script_udf_register(engine):
    df = engine.execute("""
    set udfCode = '''
def apply(a, b):
    return a * b
''';
    register ScriptUDF.`udfCode` as mul options dataType="bigint" and methodName="apply";
    select mul(6L, 7L) as v as out;
    """)
    assert df.collect()[0]["v"] == 42


def test_python_script_run(engine):
    df = engine.execute("""
    select explode(sequence(1, 4)) as v as t;
    run t as PythonScriptRun.`` where code='''
def transform(pdf):
    pdf["v2"] = pdf["v"] * 10
    return pdf
''' and schema="st(field(v,integer),field(v2,integer))" as out;
    """)
    assert sorted(r["v2"] for r in df.collect()) == [10, 20, 30, 40]


def test_exact_dedup(engine):
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"hello world"}
    {"doc_id":2,"text":"hello world"}
    {"doc_id":3,"text":"different"}
    ''';
    load jsonStr.`data` as t;
    run t as ExactDedup.`` where contentCol="text" and idCol="doc_id" as out;
    """)
    ids = sorted(r["doc_id"] for r in df.collect())
    assert ids == [1, 3]


def test_minhash_dedup_finds_near_dups(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as MinHashDedup.`` where threshold="0.8" as out;
    """)
    rows = df.collect()
    for r in rows:
        assert r["jaccard"] >= 0.8
        assert r["doc_a"] < r["doc_b"]


def test_minhash_dedup_duplicate_ids_no_self_pairs(engine):
    """A doc_id appearing on multiple input rows must never produce a
    (id, id) self-pair — the positional bucket expansion filters
    equal-id pairs, matching the old strict a.id < b.id join."""
    import json
    docs = [(1, "the quick brown fox jumps over the lazy dog today"),
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "something else entirely about parquet column pruning")]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    rows = engine.execute(f"""
    set dupj = '''{dj}''';
    load jsonStr.`dupj` as dup_docs;
    run dup_docs as MinHashDedup.`` where threshold="0.8" as out;
    """).collect()
    got = sorted((r["doc_a"], r["doc_b"]) for r in rows)
    assert got == [(1, 2)], got


def test_minhash_signatures_precomputed_ref(engine, tmp_path):
    """MinHashSignatures persists the ref corpus's band rows; a later
    MinHashDedup refBandsTable run produces IDENTICAL pairs to plain
    refTable mode without re-hashing the history; mismatched banding
    params fail fast."""
    import json
    ref = [(i, f"shared sentence number {i} about spark and parquet "
               f"files with more words to shingle on") for i in range(5)]
    new = [(100 + i, t) for i, (_, t) in enumerate(ref[:3])]
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    nj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in new)
    sig_path = tmp_path / "mh_sigs"
    engine.execute(f"""
    set msr = '''{rj}''';
    set msn = '''{nj}''';
    load jsonStr.`msr` as ms_ref;
    load jsonStr.`msn` as ms_new;
    run ms_ref as MinHashSignatures.`` as ms_sigs;
    save overwrite ms_sigs as parquet.`{sig_path}`;
    load parquet.`{sig_path}` as ms_sigs_stored;
    """)
    plain = engine.execute("""
    run ms_new as MinHashDedup.`` where refTable="ms_ref"
    and threshold="0.9" as p1;
    """).collect()
    pre = engine.execute("""
    run ms_new as MinHashDedup.`` where refTable="ms_ref"
    and refBandsTable="ms_sigs_stored" and threshold="0.9" as p2;
    """).collect()
    key = lambda rows: sorted((r["doc_a"], r["doc_b"], r["jaccard"])
                              for r in rows)
    assert key(plain) == key(pre) and plain
    import pytest as _pytest
    with _pytest.raises(Exception, match="rebuild the signatures"):
        engine.execute("""
        run ms_new as MinHashDedup.`` where refTable="ms_ref"
        and refBandsTable="ms_sigs_stored" and numBands="6"
        and numHashes="12" as bad;
        """)
    with _pytest.raises(Exception, match="refTable too"):
        engine.execute("""
        run ms_new as MinHashDedup.`` where
        refBandsTable="ms_sigs_stored" as bad2;
        """)


def test_near_dedup_one_shot(engine):
    """NearDedup = MinHashDedup -> DupClusters -> min-id survivors in
    one call; full input schema preserved; refTable mode drops input
    docs with a ref near-dup."""
    import json
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, base), (2, base), (3, base),
            (5, "completely different text about spark dataframes and "
                "shuffles"),
            (6, "a third topic entirely parquet files and column "
                "pruning")]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t, "src": "s"})
                   for i, t in docs)
    rows = engine.execute(f"""
    set ndj = '''{dj}''';
    load jsonStr.`ndj` as nd_docs;
    run nd_docs as NearDedup.`` where threshold="0.8" as out;
    """).collect()
    assert sorted(r["doc_id"] for r in rows) == [1, 5, 6]
    assert set(rows[0].asDict()) == {"doc_id", "text", "src"}
    # refTable: input docs near-dupping the ref corpus are dropped
    rows2 = engine.execute(f"""
    select doc_id + 100 as doc_id, text, src from nd_docs as nd_new;
    run nd_new as NearDedup.`` where threshold="0.8"
    and refTable="nd_docs" as out2;
    """).collect()
    assert rows2 == []          # every shifted doc matches its original


def test_near_dedup_incremental_intra_batch(engine):
    """refTable mode removes BOTH ref-dups and intra-batch near-dups
    (round-7: two copies of the same new doc must not both enter the
    lake).  A whole intra-batch cluster may drop when its survivor is
    itself a ref-dup — the content already lives in the lake."""
    import json
    ref = [(i, f"reference document number {i} on spark shuffles and "
               f"broadcast joins with extra shingle words") for i in range(3)]
    new = [
        # 100 dups ref doc 0 (ref-dup); 101 dups 100 (intra pair whose
        # min-id survivor is itself a ref-dup -> whole cluster drops)
        (100, ref[0][1]), (101, ref[0][1]),
        # 102/103: intra-batch dup pair with NO ref counterpart ->
        # min id 102 survives, 103 drops
        (102, "fresh content about adaptive query execution and skew "
              "join handling in modern engines"),
        (103, "fresh content about adaptive query execution and skew "
              "join handling in modern engines"),
        # 104: unique -> survives
        (104, "entirely unrelated prose describing parquet encodings "
              "and dictionary compression tricks"),
    ]
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    nj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in new)
    rows = engine.execute(f"""
    set ndirj = '''{rj}''';
    set ndinj = '''{nj}''';
    load jsonStr.`ndirj` as ndi_ref;
    load jsonStr.`ndinj` as ndi_new;
    run ndi_new as NearDedup.`` where refTable="ndi_ref"
    and threshold="0.9" as out;
    """).collect()
    assert sorted(r["doc_id"] for r in rows) == [102, 104]


def test_near_dedup_incremental_lazy_pairs_fallback(engine):
    """The incremental path persists the pair output ONLY when the
    inner train did not materialize it (optimization round 11: the
    default eager checkpoint already is the single pair barrier).
    eagerCache="false" exercises the persist fallback branch —
    results must be identical to the default path."""
    import json
    ref = [(i, f"reference document number {i} on spark shuffles and "
               f"broadcast joins with extra shingle words") for i in range(3)]
    new = [(100, ref[0][1]), (101, ref[0][1]),
           (102, "fresh content about adaptive query execution and skew "
                 "join handling in modern engines"),
           (103, "fresh content about adaptive query execution and skew "
                 "join handling in modern engines"),
           (104, "entirely unrelated prose describing parquet encodings "
                 "and dictionary compression tricks")]
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    nj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in new)
    rows = engine.execute(f"""
    set ndlrj = '''{rj}''';
    set ndlnj = '''{nj}''';
    load jsonStr.`ndlrj` as ndl_ref;
    load jsonStr.`ndlnj` as ndl_new;
    run ndl_new as NearDedup.`` where refTable="ndl_ref"
    and threshold="0.9" and eagerCache="false" as out;
    """).collect()
    assert sorted(r["doc_id"] for r in rows) == [102, 104]


def test_would_eager_materialize_decision(spark):
    """would_eager_materialize mirrors eager_materialize's decision:
    False iff eagerCache=false (this session has no dynamic
    allocation, so the default path materializes)."""
    from streamingpro_spark.operators.base import (eager_materialize,
                                                   would_eager_materialize)
    df = spark.range(3)
    assert would_eager_materialize(df, {}) is True
    assert would_eager_materialize(df, {"eagerCache": "FALSE"}) is False
    # agreement with the real function, both branches
    assert (eager_materialize(df, {}) is df) is (
        not would_eager_materialize(df, {}))
    assert (eager_materialize(df, {"eagerCache": "false"}) is df) is (
        not would_eager_materialize(df, {"eagerCache": "false"}))


def test_minhash_dedup_intra_batch_pairs(engine):
    """MinHashDedup intraBatch="true" (with refTable) emits BOTH
    candidate sets from one bucket shuffle, tagged pair_src self|ref;
    without refTable it is a rendered error."""
    import json
    import pytest as _pytest
    ref = [(0, "the shared reference sentence about spark catalyst "
               "optimizer rules and codegen stages")]
    new = [(100, ref[0][1]),
           (200, "different prose on watermark semantics in streaming "
                 "aggregation state stores"),
           (201, "different prose on watermark semantics in streaming "
                 "aggregation state stores")]
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    nj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in new)
    rows = engine.execute(f"""
    set mibrj = '''{rj}''';
    set mibnj = '''{nj}''';
    load jsonStr.`mibrj` as mib_ref;
    load jsonStr.`mibnj` as mib_new;
    run mib_new as MinHashDedup.`` where refTable="mib_ref"
    and intraBatch="true" and threshold="0.9" as out;
    """).collect()
    got = sorted((r["doc_a"], r["doc_b"], r["pair_src"]) for r in rows)
    assert got == [(100, 0, "ref"), (200, 201, "self")], got
    with _pytest.raises(Exception, match="intraBatch only applies"):
        engine.execute("""
        run mib_new as MinHashDedup.`` where intraBatch="true" as bad;
        """)


def test_minhash_intra_batch_survives_ref_skew(engine):
    """A REF side over maxBucketSize drops only the cross pairs; the
    input-side SELF pairs from the same bucket still come out — the
    same recall self-mode dedup over the batch alone would have
    (round-8: without this, skewed lake-side boilerplate silently
    degraded intra-batch recall)."""
    import json
    text = ("boilerplate lake sentence repeated across many reference "
            "documents about spark shuffle partitions and joins")
    ref = [(i, text) for i in range(5)]           # 5 > maxBucketSize=3
    new = [(100, text), (101, text)]              # intra dup pair, 2 <= 3
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    nj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in new)
    rows = engine.execute(f"""
    set mskrj = '''{rj}''';
    set msknj = '''{nj}''';
    load jsonStr.`mskrj` as msk_ref;
    load jsonStr.`msknj` as msk_new;
    run msk_new as MinHashDedup.`` where refTable="msk_ref"
    and intraBatch="true" and threshold="0.9" and maxBucketSize="3"
    as out;
    """).collect()
    got = sorted((r["doc_a"], r["doc_b"], r["pair_src"]) for r in rows)
    # cross pairs (100/101 x 0..4) dropped by the ref-side cap; the
    # self pair survives
    assert got == [(100, 101, "self")], got


def test_minhash_dedup_incremental_ref_mode(engine):
    """refTable mode: candidates are input x ref bucket collisions
    ONLY — doc_a is always the input's id, doc_b the ref's; input
    self-pairs and ref self-pairs never appear.  Pins the round-6
    side-tagged single-shuffle bucketing."""
    import json
    ref = [(i, f"shared sentence number {i} about spark and parquet "
               f"files with more words to shingle on") for i in range(5)]
    new = ([(100 + i, t) for i, (_, t) in enumerate(ref[:3])]  # 3 dups
           + [(200, "entirely different content about streaming "
                    "watermarks and session windows here"),
              (201, "entirely different content about streaming "
                    "watermarks and session windows here")])  # dup PAIR
    rj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in ref)
    nj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in new)
    rows = engine.execute(f"""
    set mrefj = '''{rj}''';
    set mnewj = '''{nj}''';
    load jsonStr.`mrefj` as mh_ref;
    load jsonStr.`mnewj` as mh_new;
    run mh_new as MinHashDedup.`` where refTable="mh_ref"
    and threshold="0.9" as out;
    """).collect()
    got = sorted((r["doc_a"], r["doc_b"]) for r in rows)
    # exact copies of ref docs 0..2 under ids 100..102; the 200/201
    # input-side dup pair must NOT appear (no input self-join)
    assert got == [(100, 0), (101, 1), (102, 2)], got
    assert all(r["jaccard"] == 1.0 for r in rows)


def test_ngram_jaccard_matches_minhash_at_high_threshold(engine, sf_dir):
    mh = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as MinHashDedup.`` where threshold="0.95" and numHashes="12" as mh_out;
    """).collect()
    ex = engine.execute("""
    run docs as NgramJaccardDedup.`` where threshold="0.95" as ex_out;
    """).collect()
    mh_pairs = {(r["doc_a"], r["doc_b"]) for r in mh}
    ex_pairs = {(r["doc_a"], r["doc_b"]) for r in ex}
    # minhash candidates are a subset of exact pairs (verify stage filters)
    assert mh_pairs <= ex_pairs
    # high-sim pairs: LSH with 4 bands of 3 should catch nearly all
    if ex_pairs:
        assert len(mh_pairs) >= len(ex_pairs) * 0.8


def test_simhash(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as SimHashDedup.`` as out;
    """)
    rows = df.limit(5).collect()
    assert all(r["simhash"] is not None for r in rows)


def test_similarity_search(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as SimilaritySearch.`` where k="3" and queryFilter="vec_id < 5" as out;
    """)
    rows = df.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rs in by_q.items():
        assert len(rs) == 3
        sims = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_lsh_similarity_recall(engine, sf_dir):
    exact = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as SimilaritySearch.`` where k="3" and queryFilter="vec_id < 20" as e_out;
    """).collect()
    approx = engine.execute("""
    run emb as LSHSimilaritySearch.`` where k="3" and queryFilter="vec_id < 20"
    and numTables="16" and bitsPerTable="6" as a_out;
    """).collect()
    exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    approx_top1 = {r["query_id"]: r["neighbor_id"] for r in approx if r["rank"] == 1}
    hits = sum(1 for q, n in exact_top1.items() if approx_top1.get(q) == n)
    assert hits / len(exact_top1) >= 0.5  # recall floor for 16 tables × 6 bits


def test_ivf_similarity(engine, sf_dir):
    exact = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as SimilaritySearch.`` where k="3" and queryFilter="vec_id < 20" as e_out;
    """).collect()
    # probe-all is exactly brute force
    full = engine.execute("""
    run emb as IVFSimilaritySearch.`` where k="3" and nlist="8" and nprobe="8"
    and queryFilter="vec_id < 20" as i_out;
    """).collect()
    key = lambda rows: {(r["query_id"], r["rank"]): r["neighbor_id"] for r in rows}
    assert key(full) == key(exact)
    # nprobe < nlist: approximate — top-1 recall floor
    approx = engine.execute("""
    run emb as IVFSimilaritySearch.`` where k="3" and nlist="8" and nprobe="3"
    and queryFilter="vec_id < 20" as a_out;
    """).collect()
    exact_top1 = {r["query_id"]: r["neighbor_id"] for r in exact if r["rank"] == 1}
    approx_top1 = {r["query_id"]: r["neighbor_id"] for r in approx if r["rank"] == 1}
    hits = sum(1 for q, n in exact_top1.items() if approx_top1.get(q) == n)
    assert hits / len(exact_top1) >= 0.5


def test_language_id(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as LanguageID.`` as out;
    """)
    assert "lang_pred" in df.columns
    assert df.count() == df.select("doc_id").distinct().count()


def test_quality_score(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as QualityScore.`` as out;
    """)
    row = df.first()
    assert 0.0 <= row["quality_score"] <= 1.0
    assert row["n_tokens"] > 0


def test_token_count(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as TokenCount.`` as out;
    """)
    row = df.first()
    assert row["est_bpe_tokens"] >= row["ws_tokens"]


def test_doc_fingerprint_normalization(engine):
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"Hello   World"}
    {"doc_id":2,"text":"hello world"}
    ''';
    load jsonStr.`data` as t;
    run t as DocFingerprint.`` where contentCol="text" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["md5"] != rows[2]["md5"]
    assert rows[1]["normalized_hash"] == rows[2]["normalized_hash"]


def test_image_metadata_real_decode(engine, spark, tmp_path):
    """Round-trip: encode real PNG/GIF/BMP/JPEG bytes to files, load via
    binaryFile, decode — true dimensions, not byte-length arithmetic."""
    from streamingpro_spark.functions.codecs import (make_bmp_encoder,
                                                     make_gif_encoder,
                                                     make_jpeg_header,
                                                     make_png_encoder)
    (tmp_path / "a.png").write_bytes(make_png_encoder()(17, 9))
    (tmp_path / "b.gif").write_bytes(make_gif_encoder()(300, 200))
    (tmp_path / "c.bmp").write_bytes(make_bmp_encoder()(31, 7))
    (tmp_path / "d.jpg").write_bytes(make_jpeg_header()(640, 480))
    (tmp_path / "e.txt").write_bytes(b"not an image at all")
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/*` as files;
    run files as ImageMetadata.`` as out;
    select path, image_meta.* from out as final;
    """)
    metas = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert (metas["a.png"]["width"], metas["a.png"]["height"],
            metas["a.png"]["channels"], metas["a.png"]["format"]) == (17, 9, 3, "png")
    assert (metas["b.gif"]["width"], metas["b.gif"]["height"],
            metas["b.gif"]["format"]) == (300, 200, "gif")
    assert (metas["c.bmp"]["width"], metas["c.bmp"]["height"],
            metas["c.bmp"]["channels"], metas["c.bmp"]["format"]) == (31, 7, 3, "bmp")
    assert (metas["d.jpg"]["width"], metas["d.jpg"]["height"],
            metas["d.jpg"]["channels"], metas["d.jpg"]["format"]) == (640, 480, 3, "jpeg")
    assert metas["e.txt"]["format"] is None and metas["e.txt"]["width"] is None


def test_audio_features_real_decode(engine, tmp_path):
    from streamingpro_spark.functions.codecs import make_wav_encoder
    (tmp_path / "a.wav").write_bytes(
        make_wav_encoder()(44100, 4410, channels=2, bits=16))
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/*.wav` as files;
    run files as AudioFeatures.`` as out;
    """)
    meta = df.first()["audio_meta"]
    assert meta["sample_rate"] == 44100
    assert meta["channels"] == 2
    assert meta["bits_per_sample"] == 16
    assert meta["n_samples"] == 4410
    assert meta["duration_ms"] == 100
    assert meta["format"] == "wav"


def test_codec_parsers_reject_garbage():
    from streamingpro_spark.functions.codecs import (make_audio_meta_parser,
                                                     make_image_meta_parser)
    img, aud = make_image_meta_parser(), make_audio_meta_parser()
    for junk in (None, b"", b"\x00" * 3, b"RIFFxxxx????", b"\xff\xd8\x00"):
        assert img(junk)[0] is None
        assert aud(junk)[0] is None
    # truncated PNG: signature without a complete IHDR
    assert img(b"\x89PNG\r\n\x1a\n\x00\x00")[0] is None


def test_frame_sample_stub(engine):
    """Non-AVI bytes: plumbing works, frame positions are null."""
    df = engine.execute("""
    select cast("0123456789abcdef" as binary) as content, 1 as id as t;
    run t as FrameSample.`` where numFrames="4" as out;
    """)
    rows = df.collect()
    assert len(rows) == 4
    assert sorted(r["frame_index"] for r in rows) == [0, 1, 2, 3]
    assert all(r["source_frame"] is None for r in rows)


def test_jpeg_parser_skips_fill_bytes():
    """0xFF padding before a marker is legal — the walk must skip it,
    not read a bogus segment length (ADVICE round 3)."""
    import struct
    from streamingpro_spark.functions.codecs import (make_image_meta_parser,
                                                     make_jpeg_header)
    good = make_jpeg_header()(640, 480)
    # inject fill bytes between the APP0 and SOF0 segments
    sof_at = good.index(b"\xff\xc0")
    padded = good[:sof_at] + b"\xff\xff\xff" + good[sof_at:]
    w, h, ch, fmt = make_image_meta_parser()(padded)
    assert (w, h, ch, fmt) == (640, 480, 3, "jpeg")
    # sanity: the header itself is well-formed
    assert struct.unpack(">H", good[2:4]) is not None


def test_video_metadata_real_decode(engine, tmp_path):
    """Round-trip: encode a real RIFF/AVI container, parse the avih
    main header back out."""
    from streamingpro_spark.functions.codecs import make_avi_encoder
    (tmp_path / "v.avi").write_bytes(make_avi_encoder()(320, 240, 25, 100))
    (tmp_path / "x.bin").write_bytes(b"RIFFxxxxWAVE")   # not a video
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/*` as files;
    run files as VideoMetadata.`` as out;
    select path, video_meta.* from out as final;
    """)
    metas = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    v = metas["v.avi"]
    assert (v["width"], v["height"], v["fps"], v["n_frames"],
            v["duration_ms"], v["format"]) == (320, 240, 25.0, 100, 4000, "avi")
    assert metas["x.bin"]["format"] is None


def test_video_metadata_mp4_box_tree(engine, tmp_path):
    """ISO-BMFF: a real ftyp+moov box tree parses back dimensions
    (16.16 tkhd), fps (mdhd timescale / stsz count) and duration."""
    from streamingpro_spark.functions.codecs import make_mp4_encoder
    (tmp_path / "v.mp4").write_bytes(make_mp4_encoder()(1280, 720, 30, 900))
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/v.mp4` as files;
    run files as VideoMetadata.`` as out;
    select video_meta.* from out as final;
    """)
    v = df.collect()[0]
    assert (v["width"], v["height"], v["fps"], v["n_frames"],
            v["duration_ms"], v["format"]) == (1280, 720, 30.0, 900,
                                               30000, "mp4")


def test_frame_sample_real_avi_positions(engine, tmp_path):
    """AVI input: sampled frame indices spread over the REAL total frame
    count with timestamps from the real frame rate."""
    from streamingpro_spark.functions.codecs import make_avi_encoder
    (tmp_path / "v.avi").write_bytes(make_avi_encoder()(64, 48, 10, 91))
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/v.avi` as files;
    run files as FrameSample.`` where numFrames="4" as out;
    select frame_index, source_frame, frame_time_ms, frame_bytes
    from out as final;
    """)
    rows = sorted(df.collect(), key=lambda r: r["frame_index"])
    assert [r["source_frame"] for r in rows] == [0, 30, 60, 90]
    assert [r["frame_time_ms"] for r in rows] == [0, 3000, 6000, 9000]
    # empty movi list: positions are real but there are no frame bytes
    assert all(r["frame_bytes"] is None for r in rows)


def test_frame_sample_real_demux(engine, tmp_path):
    """End-to-end REAL frame path: AVI with PNG payloads in the movi
    list → FrameSample demuxes the actual '00dc' chunks → ImageResize
    pixel-decodes the extracted frame."""
    from streamingpro_spark.functions.codecs import (make_avi_encoder,
                                                     make_avi_frame_extractor,
                                                     make_image_meta_parser,
                                                     make_png_encoder)
    png = make_png_encoder()
    frames = [png(16, 12, seed=i) for i in range(7)]   # odd sizes too
    avi = make_avi_encoder()(16, 12, 5, 7, frames=frames)
    # unit level: the extractor returns the exact payloads back
    assert make_avi_frame_extractor()(avi) == frames
    (tmp_path / "v.avi").write_bytes(avi)
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/v.avi` as files;
    run files as FrameSample.`` where numFrames="3" as out;
    select frame_index, source_frame, frame_bytes as content from out
    as fr;
    run fr as ImageResize.`` where width="4" and height="4" as final;
    """)
    rows = sorted(df.collect(), key=lambda r: r["frame_index"])
    assert [r["source_frame"] for r in rows] == [0, 3, 6]
    # frame_bytes are the true movi payloads, not byte slices
    assert [bytes(r["content"]) for r in rows] == [frames[0], frames[3],
                                                   frames[6]]
    # and the demuxed frame pixel-decodes: resized output is a real PNG
    meta = make_image_meta_parser()
    for r in rows:
        w, h, ch, fmt = meta(bytes(r["resized"]))
        assert (w, h, fmt) == (4, 4, "png")


def test_frame_sample_real_mp4_demux(engine, tmp_path):
    """End-to-end REAL MP4 frame path: samples stored in mdat with
    genuine stsz/stsc/stco tables → FrameSample slices the actual
    sample bytes → ImageResize pixel-decodes the extracted frame."""
    from streamingpro_spark.functions.codecs import (
        make_image_meta_parser, make_mp4_encoder,
        make_mp4_sample_extractor, make_png_encoder)
    png = make_png_encoder()
    frames = [png(16, 12, seed=i) for i in range(7)]
    mp4 = make_mp4_encoder()(16, 12, 5, 7, frames=frames)
    # unit level: the extractor returns the exact payloads back
    assert make_mp4_sample_extractor()(mp4) == frames
    (tmp_path / "v.mp4").write_bytes(mp4)
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/v.mp4` as files;
    run files as FrameSample.`` where numFrames="3" as out;
    select frame_index, source_frame, frame_time_ms, frame_bytes as content
    from out as fr;
    run fr as ImageResize.`` where width="4" and height="4" as final;
    """)
    rows = sorted(df.collect(), key=lambda r: r["frame_index"])
    assert [r["source_frame"] for r in rows] == [0, 3, 6]
    assert [r["frame_time_ms"] for r in rows] == [0, 600, 1200]
    # frame_bytes are the true mdat sample payloads, not byte slices
    assert [bytes(r["content"]) for r in rows] == [frames[0], frames[3],
                                                   frames[6]]
    meta = make_image_meta_parser()
    for r in rows:
        w, h, ch, fmt = meta(bytes(r["resized"]))
        assert (w, h, fmt) == (4, 4, "png")
    # header-only MP4 (no sample tables): real positions, null bytes
    (tmp_path / "h.mp4").write_bytes(make_mp4_encoder()(64, 48, 10, 91))
    df2 = engine.execute(f"""
    load binaryFile.`{tmp_path}/h.mp4` as files2;
    run files2 as FrameSample.`` where numFrames="4" as out2;
    select frame_index, source_frame, frame_time_ms, frame_bytes
    from out2 as final2;
    """)
    rows2 = sorted(df2.collect(), key=lambda r: r["frame_index"])
    assert [r["source_frame"] for r in rows2] == [0, 30, 60, 90]
    assert all(r["frame_bytes"] is None for r in rows2)


def test_mp4_multitrak_per_stbl_tables():
    """A two-trak MP4 (audio trak with stco, video trak with co64)
    must demux the VIDEO trak's samples using the video trak's OWN
    sample tables — a global first-found collection would pair the
    audio trak's stsz with the video trak's co64 and slice garbage.
    The meta parser must likewise take fps/dims from the hdlr='vide'
    trak, not the first trak in file order."""
    import struct
    from streamingpro_spark.functions.codecs import (
        make_mp4_sample_extractor, make_video_meta_parser)

    def box(tag, payload):
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    audio_samples = [b"AAA", b"BBBB"]          # sizes differ from video
    video_frames = [b"VID1!", b"VID22!"]

    def trak(kind, sizes, md_ts, md_dur, off, use_co64, dims=None):
        hdlr = box(b"hdlr", b"\x00" * 8 + kind + b"\x00" * 12)
        stsz = box(b"stsz", struct.pack(">B3xII", 0, 0, len(sizes))
                   + b"".join(struct.pack(">I", s) for s in sizes))
        stsc = box(b"stsc", struct.pack(">B3xIIII", 0, 1,
                                        1, len(sizes), 1))
        chunk = (box(b"co64", struct.pack(">B3xIQ", 0, 1, off))
                 if use_co64
                 else box(b"stco", struct.pack(">B3xII", 0, 1, off)))
        stbl = box(b"stbl", stsz + stsc + chunk)
        mdhd = box(b"mdhd", struct.pack(">B3xIIII2x2x", 0, 0, 0,
                                        md_ts, md_dur))
        body = mdhd + hdlr + box(b"minf", stbl)
        if dims:
            tkhd = box(b"tkhd", struct.pack(">B3xIIIII", 0, 0, 0, 1, 0,
                                            md_dur) + b"\x00" * 52
                       + struct.pack(">II", dims[0] << 16, dims[1] << 16))
            return box(b"trak", tkhd + box(b"mdia", body))
        return box(b"trak", box(b"mdia", body))

    def build(a_off, v_off):
        mvhd = box(b"mvhd", struct.pack(">B3xIIII", 0, 0, 0, 1000, 200)
                   + b"\x00" * 80)
        # audio FIRST in file order: its tables/mdhd must not win
        moov = box(b"moov", mvhd
                   + trak(b"soun", [len(s) for s in audio_samples],
                          48000, 96000, a_off, use_co64=False)
                   + trak(b"vide", [len(f) for f in video_frames],
                          1000, 200, v_off, use_co64=True,
                          dims=(320, 240)))
        return box(b"ftyp", b"isom" + b"\x00" * 8) + moov

    head_len = len(build(0, 0))
    a_off = head_len + 8                       # mdat body start
    v_off = a_off + sum(len(s) for s in audio_samples)
    data = build(a_off, v_off) + box(
        b"mdat", b"".join(audio_samples) + b"".join(video_frames))

    assert make_mp4_sample_extractor()(data) == video_frames
    w, h, fps, n, dur_ms, fmt = make_video_meta_parser()(data)
    assert (w, h, n, fmt) == (320, 240, 2, "mp4")
    assert abs(fps - 10.0) < 1e-9              # video mdhd, not audio's
    assert dur_ms == 200


def test_image_dedup_max_hamming_range(engine):
    """maxHamming >= 64 would give zero-width bands (every row in one
    bucket that the skew guard silently drops) — must raise instead."""
    import pytest as _pytest
    with _pytest.raises(Exception, match=r"\[0, 63\]"):
        engine.execute("""
        select 1 as id, 5 as h as t;
        run t as ImageDedup.`` where idCol="id" and hashCol="h"
        and maxHamming="64" as bad;
        """)


def test_image_phash_brightness_invariance(engine, tmp_path):
    """Uniformly brightness-shifted copies of an image are
    byte-distinct files but hash identically (aHash and dHash);
    a structurally different image hashes differently; junk bytes
    yield a null phash."""
    from streamingpro_spark.functions.codecs import make_rgb_png_encoder
    enc = make_rgb_png_encoder()

    def img(shift, flip=False):
        rows = []
        for y in range(16):
            r = []
            for x in range(16):
                v = (180 if ((x // 2 + y // 2) % 2 == 0) != flip else 70) \
                    + shift
                r.append((v, v, v))
            rows.append(r)
        return enc(rows)

    (tmp_path / "a0.png").write_bytes(img(0))
    (tmp_path / "a1.png").write_bytes(img(20))
    (tmp_path / "b.png").write_bytes(img(0, flip=True))
    (tmp_path / "x.bin").write_bytes(b"not an image at all")
    assert img(0) != img(20)               # genuinely different bytes
    for htype in ("ahash", "dhash"):
        df = engine.execute(f"""
        load binaryFile.`{tmp_path}/*` as files;
        run files as ImagePHash.`` where hashType="{htype}" as out;
        select path, phash from out as final;
        """)
        ph = {r["path"].rsplit("/", 1)[-1]: r["phash"]
              for r in df.collect()}
        assert ph["a0.png"] == ph["a1.png"], htype
        assert ph["a0.png"] != ph["b.png"], htype
        assert ph["x.bin"] is None, htype


def test_image_dedup_phash_reuse_flow(engine, tmp_path):
    """The documented reuse flow — ImagePHash once, then ImageDedup
    with hashCol=\"phash\" — must not emit a duplicate phash column,
    and an invalid hashType raises in BOTH operators."""
    from streamingpro_spark.functions.codecs import make_rgb_png_encoder
    enc = make_rgb_png_encoder()
    for i, shift, flip in [(1, 0, False), (2, 16, False), (3, 0, True)]:
        # checkerboards: i2 is a brightness-shifted dup of i1; i3 is
        # the inverted board (complement aHash, guaranteed distinct)
        px = [[((180 if ((x // 2 + y // 2) % 2 == 0) != flip else 70)
                + shift,) * 3 for x in range(16)] for y in range(16)]
        (tmp_path / f"i{i}.png").write_bytes(enc(px))
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/*` as files;
    run files as ImagePHash.`` as hashed;
    select path, phash from hashed as slim;
    run slim as ImageDedup.`` where idCol="path" and hashCol="phash" as out;
    select path, phash from out as final;
    """)
    rows = df.collect()
    assert len(rows[0].asDict()) == 2          # no duplicate phash col
    kept = sorted(r["path"].rsplit("/", 1)[-1] for r in rows)
    assert kept == ["i1.png", "i3.png"]        # i2 = brightness dup of i1
    import pytest as _pytest
    for op in ("ImagePHash", "ImageDedup"):
        with _pytest.raises(Exception, match="ahash or dhash"):
            engine.execute(f"""
            select cast("x" as binary) as content, 1 as doc_id as t;
            run t as {op}.`` where hashType="pHash" as bad;
            """)


def test_mp4_extractor_rejects_crafted_streams():
    """Adversarial ISO-BMFF bytes: a huge fixed-size stsz count must
    not allocate, and pathological moov nesting must yield None, not
    RecursionError — one malformed row cannot kill an executor."""
    import struct
    from streamingpro_spark.functions.codecs import (
        make_mp4_sample_extractor, make_video_meta_parser)
    ext = make_mp4_sample_extractor()

    def box(tag, payload):
        return struct.pack(">I", 8 + len(payload)) + tag + payload

    ftyp = box(b"ftyp", b"isom")
    # stsz: sample_size=1, sample_count=0xFFFFFFFF → ~4 GB of samples
    # claimed by a 100-byte file
    stsz = box(b"stsz", struct.pack(">B3xII", 0, 1, 0xFFFFFFFF))
    stsc = box(b"stsc", struct.pack(">B3xIIII", 0, 1, 1, 1, 1))
    stco = box(b"stco", struct.pack(">B3xII", 0, 1, 0))
    evil = ftyp + box(b"moov", box(b"trak", box(b"mdia", box(
        b"minf", box(b"stbl", stsz + stsc + stco)))))
    assert ext(evil) is None
    # ~1500 nested moov boxes: deeper than the default recursion limit
    deep = b""
    for _ in range(1500):
        deep = box(b"moov", deep)
    assert ext(ftyp + deep) is None
    assert make_video_meta_parser()(ftyp + deep)[0] is None


def test_audio_fingerprint_gain_invariance(engine, tmp_path):
    """Re-levelled copies of a tone fingerprint identically (the peak
    band is gain-invariant); a different frequency lands in a
    different band; non-WAV bytes yield null; HashDedup on afp keeps
    one survivor per tone."""
    from streamingpro_spark.functions.codecs import make_wav_encoder
    wav = make_wav_encoder()
    (tmp_path / "a1.wav").write_bytes(wav(8000, 2048, freq=500, gain=0.3))
    (tmp_path / "a2.wav").write_bytes(wav(8000, 2048, freq=500, gain=0.7))
    (tmp_path / "b.wav").write_bytes(wav(8000, 2048, freq=2000, gain=0.5))
    (tmp_path / "x.bin").write_bytes(b"RIFFxxxxAVI not audio")
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/*` as files;
    run files as AudioFingerprint.`` as fp;
    select path, afp from fp as slim;
    run slim as HashDedup.`` where idCol="path" and hashCol="afp" as out;
    select path, afp from out as final;
    """)
    rows = {r["path"].rsplit("/", 1)[-1]: r["afp"] for r in df.collect()}
    # a2 collapsed into a1 (same fingerprint), b distinct, junk kept
    # as its own null-hash row
    assert set(rows) == {"a1.wav", "b.wav", "x.bin"}
    assert rows["a1.wav"] is not None and rows["b.wav"] is not None
    assert rows["a1.wav"] != rows["b.wav"]
    assert rows["x.bin"] is None
    import pytest as _pytest
    with _pytest.raises(Exception, match="<= 64"):
        engine.execute("""
        select cast("x" as binary) as content as t;
        run t as AudioFingerprint.`` where numSegments="9"
        and numBands="9" as bad;
        """)
    for params in ('numSegments="0"', 'numBands="-2"', 'minFreq="0"'):
        with _pytest.raises(Exception, match="must be"):
            engine.execute(f"""
            select cast("x" as binary) as content as t2;
            run t2 as AudioFingerprint.`` where {params} as bad2;
            """)


def test_image_dedup_hamming_pairs_hashcol(engine):
    """Banded-Hamming pair detection on a precomputed hash column:
    pairs within maxHamming come back with the exact distance, pairs
    beyond it are verified away even when a band collides, and
    negative longs (bit 63 set) band correctly."""
    base = -(1 << 63) + 0x123456789AB      # bit 63 set → negative long
    rows = [(1, base),
            (2, base),                     # distance 0
            (3, base ^ 0b11),              # distance 2 (band 0 only)
            (4, base ^ 0b11111),           # distance 5: candidate via
            (5, 0x0F0F0F0F)]               # bands 1-2, must verify away
    import json
    data = "\n".join(json.dumps({"id": i, "h": h}) for i, h in rows)
    df = engine.execute(f"""
    set hjson = '''{data}''';
    load jsonStr.`hjson` as hashes;
    run hashes as ImageDedup.`` where idCol="id" and hashCol="h"
    and maxHamming="2" as out;
    select id_a, id_b, hamming from out as final;
    """)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in df.collect()}
    assert got == {(1, 2): 0, (1, 3): 2, (2, 3): 2}
    # exact-survivor mode on the same hashes: min id per hash value
    df2 = engine.execute(f"""
    set hjson = '''{data}''';
    load jsonStr.`hjson` as hashes2;
    run hashes2 as ImageDedup.`` where idCol="id" and hashCol="h" as s;
    select id from s as final2;
    """)
    assert sorted(r["id"] for r in df2.collect()) == [1, 3, 4, 5]
    # skew guard: ids 1,2,3 share bands 1-2 (buckets of size 3) which
    # maxBucketSize=2 drops, losing (1,3)/(2,3); the size-2 band-0
    # bucket {1,2} survives and still yields its pair
    df3 = engine.execute(f"""
    set hjson = '''{data}''';
    load jsonStr.`hjson` as hashes3;
    run hashes3 as ImageDedup.`` where idCol="id" and hashCol="h"
    and maxHamming="2" and maxBucketSize="2" as g;
    select id_a, id_b from g as final3;
    """)
    assert [(r["id_a"], r["id_b"]) for r in df3.collect()] == [(1, 2)]


def test_pagerank(engine):
    df = engine.execute("""
    set data = '''
    {"src":1,"dst":2}
    {"src":1,"dst":3}
    {"src":2,"dst":3}
    {"src":3,"dst":1}
    ''';
    load jsonStr.`data` as t;
    run t as PageRank.`` where maxIter="10" as out;
    """)
    ranks = {r["id"]: r["pagerank"] for r in df.collect()}
    assert ranks[3] > ranks[2]  # 3 has two in-links


def test_model_list(engine):
    df = engine.execute("load modelList.`` as out;")
    names = {r["name"] for r in df.collect()}
    assert {"RandomForest", "MinHashDedup", "Pivot"} <= names


def test_model_params(engine):
    df = engine.execute("load modelParams.`MinHashDedup` as out;")
    params = {r["param"] for r in df.collect()}
    assert "numHashes" in params


def test_cache_script_lifetime_unpersists(engine, spark):
    """script-lifetime caches auto-unpersist at script end
    (reference CleanCacheListener); session-lifetime survives."""
    engine.execute("""
    select explode(sequence(1, 100)) as v as c_script;
    !cache c_script script;
    """)
    assert not spark.table("c_script").storageLevel.useMemory
    engine.execute("""
    select explode(sequence(1, 100)) as v as c_session;
    !cache c_session session;
    """)
    assert spark.table("c_session").storageLevel.useMemory
    engine.execute("!uncache c_session;")


def test_cache_nested_union_survives_consumer_union(engine, spark):
    """A cached view whose lineage holds NESTED unions (SQL `a union
    all b union all c` parses left-deep) must still be READ FROM CACHE
    by a consumer that unions it: Dataset.union eagerly runs
    CombineUnions over the whole combined plan, flattening the nested
    unions inside the cached lineage, and the flattened copy no longer
    sameResults the cached plan — CacheExt therefore caches the
    pre-flattened plan (round-11 fix; the miss recomputed
    lake_day_ingest's curation+bloom lineage from raw parquet inside
    the NearDedup stage)."""
    engine.execute("""
    select explode(sequence(1, 10)) as v as cu_a;
    select explode(sequence(11, 20)) as v as cu_b;
    select explode(sequence(21, 30)) as v as cu_c;
    select v from cu_a union all select v from cu_b
        union all select v from cu_c as cu_all;
    !cache cu_all session;
    """)
    try:
        t = spark.table("cu_all")
        assert t.storageLevel.useMemory
        other = spark.range(100, 103).selectExpr("cast(id as int) as v")
        consumer = t.unionByName(other)
        plan = (consumer._jdf.queryExecution()
                .withCachedData().toString())
        assert "InMemoryRelation" in plan, (
            "union consumer bypassed the cache — nested-union plan "
            "was cached unflattened:\n" + plan)
        # and the values are exactly the union's rows
        assert sorted(r["v"] for r in consumer.collect()) == \
            list(range(1, 31)) + [100, 101, 102]
    finally:
        engine.execute("!uncache cu_all;")


def test_flatten_unions_helper(spark):
    """flatten_unions: no-op (same object) without nested unions;
    flattened plan returns identical rows; idempotent."""
    from streamingpro_spark.operators.base import flatten_unions
    plain = spark.range(5)
    assert flatten_unions(plain) is plain
    spark.range(3).createOrReplaceTempView("fu_a")
    spark.range(3, 6).createOrReplaceTempView("fu_b")
    spark.range(6, 9).createOrReplaceTempView("fu_c")
    nested = spark.sql("select id from fu_a union all select id from fu_b "
                       "union all select id from fu_c")
    flat = flatten_unions(nested)
    assert flat is not nested
    assert sorted(r.id for r in flat.collect()) == list(range(9))
    # idempotent: a second pass finds nothing to flatten
    assert flatten_unions(flat) is flat


def test_tfidf_in_place(engine):
    df = engine.execute("""
    set data = '''
    {"content":"spark spark streaming"}
    {"content":"flink batch"}
    ''';
    load jsonStr.`data` as corpus;
    run corpus as TfIdfInPlace.`` where inputCol="content" as out;
    """)
    rows = df.collect()
    from pyspark.ml.linalg import Vector
    assert all(isinstance(r["content"], Vector) for r in rows)


def test_word2vec_in_place(engine):
    df = engine.execute("""
    set data = '''
    {"content":"spark streaming engine"}
    {"content":"spark batch engine"}
    ''';
    load jsonStr.`data` as corpus;
    run corpus as Word2VecInPlace.`` where inputCol="content"
        and vectorSize="8" and minCount="1" as out;
    """)
    rows = df.collect()
    assert all(len(r["content"]) == 8 for r in rows)


def test_discretizer_quantile(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/orders.parquet` as o;
    run o as Discretizer.`` where method="quantile" and inputCol="o_totalprice"
        and numBuckets="4" as out;
    """)
    buckets = {r["o_totalprice_bucket"] for r in df.collect()}
    assert buckets == {0.0, 1.0, 2.0, 3.0}


def test_feature_extract_in_place(engine):
    df = engine.execute("""
    set data = '''
    {"doc":"contact me at bob@example.com or visit https://x.io ok?"}
    {"doc":"no entities here"}
    ''';
    load jsonStr.`data` as t;
    run t as FeatureExtractInPlace.`` where inputCol="doc" as out;
    """)
    rows = df.collect()
    mail_row = next(r for r in rows if "bob" in r["doc"])
    other = next(r for r in rows if "bob" not in r["doc"])
    assert mail_row["email"] >= 1 and mail_row["url"] >= 1
    assert other["email"] == 0 and other["length"] > 0


def test_pii_redact(engine):
    df = engine.execute("""
    select 'mail a.b@x.io or call +1 555-123-4567 from 192.168.0.1 ok' as text,
           1 as id as t;
    run t as PiiRedact.`` as out;
    """)
    r = df.first()
    assert (r["n_emails"], r["n_phones"], r["n_ips"]) == (1, 1, 1)
    assert r["text_redacted"] == "mail <EMAIL> or call <PHONE> from <IP> ok"


def test_data_constraints(engine):
    df = engine.execute("""
    set data = '''
    {"id":1,"v":5}
    {"id":2,"v":50}
    {"id":2,"v":null}
    ''';
    load jsonStr.`data` as t;
    run t as DataConstraints.`` where rules='''{
      "notNull": ["v"], "unique": ["id"], "max": {"v": 10}
    }''' as out;
    """)
    rows = {(r["rule"], r["column"]): (r["violations"], r["passed"])
            for r in df.collect()}
    assert rows[("notNull", "v")] == (1, False)
    assert rows[("unique", "id")] == (1, False)
    assert rows[("max", "v")] == (1, False)


def test_dup_clusters(engine):
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"aaa bbb ccc ddd eee fff"}
    {"doc_id":2,"text":"aaa bbb ccc ddd eee fff"}
    {"doc_id":3,"text":"aaa bbb ccc ddd eee ggg"}
    {"doc_id":9,"text":"totally different content here now"}
    ''';
    load jsonStr.`data` as docs4;
    run docs4 as NgramJaccardDedup.`` where threshold="0.4" as pairs4;
    run docs4 as DupClusters.`` where pairsTable="pairs4" and idCol="doc_id" as cl;
    """)
    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in df.collect()}
    assert got[1] == (1, True)
    assert got[2] == (1, False)      # near-dup of 1 via shared shingles
    assert got[3] == (1, False)      # transitively clustered
    assert got[9] == (9, True)       # unrelated doc keeps itself


def test_chunk_documents(engine):
    df = engine.execute("""
    select 1 as id, 'a b c d e f g h i j' as text as t;
    run t as ChunkDocuments.`` where chunkSize="4" and overlap="1" as out;
    """)
    rows = sorted((r["chunk_index"], r["chunk_text"]) for r in df.collect())
    assert rows == [(0, "a b c d"), (1, "d e f g"), (2, "g h i j")]


def test_contamination_check(engine):
    df = engine.execute("""
    set corpus = '''
    {"doc_id":1,"text":"the quick brown fox jumps over the lazy dog"}
    {"doc_id":2,"text":"completely unrelated words about spark engines"}
    ''';
    set bench = '''
    {"bench_id":100,"text":"quick brown fox jumps over something else"}
    ''';
    load jsonStr.`corpus` as cont_docs;
    load jsonStr.`bench` as cont_bench;
    run cont_docs as ContaminationCheck.`` where benchmarkTable="cont_bench"
        and benchIdCol="bench_id" and minOverlap="2" as out;
    """)
    rows = [(r["doc_id"], r["bench_id"], r["shared_shingles"])
            for r in df.collect()]
    assert rows == [(1, 100, 3)]   # 3 shared trigrams of the fox phrase


def test_script_udf_syntax_error_rendered(engine):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="syntax error"):
        engine.execute("""
        set code = '''def apply(x): return x +''';
        register ScriptUDF.`code` as broken options dataType="long";
        """)


def test_embedding_dedup_lsh_fallback_matches_broadcast_path(engine, sf_dir):
    """broadcastLimit=0 forces the SRP-LSH banded path; at missProb 1e-9
    it must find the same above-threshold pairs as the exact broadcast
    matmul path (the at-scale contract)."""
    exact = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as EmbeddingDedup.`` where threshold="0.45" as out_exact;
    """).collect()
    lsh = engine.execute("""
    run emb as EmbeddingDedup.`` where threshold="0.45" and
        broadcastLimit="0" and missProb="1e-9" as out_lsh;
    """).collect()
    exact_pairs = {(r["id_a"], r["id_b"], r["cosine"]) for r in exact}
    lsh_pairs = {(r["id_a"], r["id_b"], r["cosine"]) for r in lsh}
    assert lsh_pairs <= exact_pairs          # verify stage is exact
    assert exact_pairs, "fixture should contain near-dup pairs"
    assert lsh_pairs == exact_pairs


def test_embedding_dedup_lsh_fallback_empty_corpus(engine, sf_dir):
    df = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    select * from emb where vec_id < 0 as none;
    run none as EmbeddingDedup.`` where broadcastLimit="0" as out;
    """)
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id_a", "id_b", "cosine"]


def test_derive_srp_banding_total_and_monotone():
    from streamingpro_spark.operators.similarity import derive_srp_banding
    # log1p fix: thresholds near -1 used to ZeroDivisionError
    for t in (-0.999, -0.96, -0.5, 0.0, 0.45, 0.9, 0.95, 0.99, 0.999):
        b, tables = derive_srp_banding(t)
        assert 1 <= b <= 16 and 1 <= tables <= 64
    # deeper signatures (more pruning) at dedup-grade thresholds
    b_hi, _ = derive_srp_banding(0.95)
    b_lo, _ = derive_srp_banding(0.45)
    assert b_hi > b_lo


def test_lsh_similarity_threshold_derives_banding(engine, sf_dir):
    """threshold param (numTables/bitsPerTable unset) auto-derives the
    banding and still returns well-formed ranked output."""
    df = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as LSHSimilaritySearch.`` where threshold="0.9" and k="3"
        and queryFilter="vec_id % 100 = 0" as out;
    """)
    rows = df.collect()
    assert rows
    for r in rows:
        assert 1 <= r["rank"] <= 3


def test_dedup_ops_no_persist_leak(engine, spark, sf_dir):
    """ET-internal caches (minhash buckets, posting lists, signatures)
    must not survive the script.  Lazy path (eagerCache=false): the
    engine's end-of-script reaper unpersists every script-lifetime cache,
    so NOTHING new remains.  Eager path: intermediates are freed at train
    time; only the (small) checkpointed outputs remain — one per run
    statement — and driver GC reaps those via ContextCleaner."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as MinHashDedup.`` where threshold="0.8"
        and eagerCache="false" as mh;
    run docs as NgramJaccardDedup.`` where threshold="0.9"
        and eagerCache="false" as ng;
    """)
    assert jsc.getPersistentRDDs().size() <= before
    engine.execute(f"""
    load parquet.`{sf_dir}/documents.parquet` as docs;
    run docs as MinHashDedup.`` where threshold="0.8" as mh2;
    run docs as NgramJaccardDedup.`` where threshold="0.9" as ng2;
    """)
    # at most the two materialized outputs — never the corpus-sized caches
    assert jsc.getPersistentRDDs().size() <= before + 2


def test_dup_clusters_deep_chain_converges(engine):
    """A 21-node chain (diameter 20) — label propagation must reach the
    fixpoint without lineage blow-up (checkpointEvery truncates plans)."""
    import json
    pair_lines = "\n".join(
        json.dumps({"doc_a": i, "doc_b": i + 1}) for i in range(1, 21))
    doc_lines = "\n".join(
        json.dumps({"doc_id": i}) for i in range(1, 22))
    df = engine.execute(f"""
    set pairs_data = '''
    {pair_lines}
    ''';
    set docs_data = '''
    {doc_lines}
    ''';
    load jsonStr.`pairs_data` as chain_pairs;
    load jsonStr.`docs_data` as chain_docs;
    run chain_docs as DupClusters.`` where pairsTable="chain_pairs"
        and maxIter="25" as out;
    """)
    rows = df.collect()
    assert len(rows) == 21
    assert all(r["cluster_id"] == 1 for r in rows)
    assert sum(1 for r in rows if r["keep"]) == 1


def test_dup_clusters_out_of_corpus_endpoint_does_not_bridge(engine):
    """Round-11 optimization (node-restricted propagation) must keep
    the old semantics for edges whose endpoint is NOT in the input
    table: such an endpoint never had a label row, so two input docs
    connected only THROUGH it must stay in separate clusters, and the
    out-of-corpus id must not appear in the output."""
    df = engine.execute("""
    set pairs_data = '''
    {"doc_a":5,"doc_b":99}
    {"doc_a":99,"doc_b":7}
    {"doc_a":2,"doc_b":3}
    ''';
    set docs_data = '''
    {"doc_id":2}
    {"doc_id":3}
    {"doc_id":5}
    {"doc_id":7}
    {"doc_id":11}
    ''';
    load jsonStr.`pairs_data` as oc_pairs;
    load jsonStr.`docs_data` as oc_docs;
    run oc_docs as DupClusters.`` where pairsTable="oc_pairs" as out;
    """)
    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in df.collect()}
    assert set(got) == {2, 3, 5, 7, 11}          # 99 never surfaces
    assert got[5] == (5, True) and got[7] == (7, True)  # NOT bridged
    assert got[2] == (2, True) and got[3] == (2, False)
    assert got[11] == (11, True)                 # singleton untouched


def test_dup_clusters_smaller_out_of_corpus_id_does_not_bridge(engine):
    """Round 1 takes min(dst) with no join, so the graph must drop an
    edge whose dst is not an input id: here id 1 is smaller than both
    docs it links, and would otherwise become their shared label."""
    df = engine.execute("""
    select * from (values (5, 1), (1, 7), (3, 2)) v(doc_a, doc_b)
    as small_oc_pairs;
    select * from (values (2), (3), (5), (7), (11)) v(doc_id)
    as small_oc_docs;
    run small_oc_docs as DupClusters.`` where pairsTable="small_oc_pairs"
    as out;
    """)
    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in df.collect()}
    assert got == {2: (2, True), 3: (2, False), 5: (5, True),
                   7: (7, True), 11: (11, True)}


def test_dup_clusters_mixed_pair_column_types(engine):
    """int and bigint pair columns share one exploded edge struct; the
    output keeps the id column's type."""
    df = engine.execute("""
    select cast(a as int) as doc_a, cast(b as bigint) as doc_b
    from (values (1, 2), (2, 3)) v(a, b) as mixed_pairs;
    select cast(x as int) as doc_id from (values (1), (2), (3), (4)) v(x)
    as mixed_docs;
    run mixed_docs as DupClusters.`` where pairsTable="mixed_pairs" as out;
    """)
    assert df.schema["cluster_id"].dataType.simpleString() == "int"
    got = {r["doc_id"]: (r["cluster_id"], r["keep"]) for r in df.collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (4, True)}


def test_dup_clusters_plan_grows_linearly_in_rounds(spark):
    """Each propagation round reads the previous labels once, so the
    optimized plan of r lazy rounds grows by one constant step per
    round.  (Joining the labels with their own neighbour-min aggregate
    doubled the plan every round.)"""
    import contextlib
    import io
    from streamingpro_spark.operators.dedup import _dup_graph, _dup_rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(1, 50)],
                                  "doc_a long, doc_b long")
    ids = spark.range(1, 51)
    graph = _dup_graph(pairs, ids, "doc_a", "doc_b")
    lines = []
    for r in range(1, 7):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            _dup_rounds(graph, None, r).explain(mode="extended")
        opt = (buf.getvalue().split("== Optimized Logical Plan ==")[1]
               .split("== Physical Plan ==")[0])
        lines.append(len(opt.strip().splitlines()))
    steps = {b - a for a, b in zip(lines, lines[1:])}
    assert len(steps) == 1 and steps.pop() > 0, lines


def test_dup_clusters_non_convergence_is_rendered_error(engine):
    """A 50-node chain (diameter 49) against the default maxIter=20:
    silently stopping would split ONE duplicate cluster into several
    keep=true survivors — round-8 makes that a rendered error naming
    the remedy; with maxIter raised past the diameter the same graph
    labels correctly."""
    import json
    import pytest as _pytest
    pair_lines = "\n".join(
        json.dumps({"doc_a": i, "doc_b": i + 1}) for i in range(1, 50))
    doc_lines = "\n".join(
        json.dumps({"doc_id": i}) for i in range(1, 51))
    engine.execute(f"""
    set dc_pairs50 = '''
    {pair_lines}
    ''';
    set dc_docs50 = '''
    {doc_lines}
    ''';
    load jsonStr.`dc_pairs50` as deep_pairs;
    load jsonStr.`dc_docs50` as deep_docs;
    """)
    with _pytest.raises(Exception, match="had not converged"):
        engine.execute("""
        run deep_docs as DupClusters.`` where pairsTable="deep_pairs"
        as bad_out;
        """)
    rows = engine.execute("""
    run deep_docs as DupClusters.`` where pairsTable="deep_pairs"
        and maxIter="60" as ok_out;
    """).collect()
    assert len(rows) == 50
    assert all(r["cluster_id"] == 1 for r in rows)
    assert sum(1 for r in rows if r["keep"]) == 1


def test_checkpoint_files_tracked_and_freed_on_close(spark, tmp_path_factory):
    """Reliable checkpoints written by eager_materialize are tracked on
    the context and deleted by Engine.close() — without it every ET run
    in a long-lived session leaks checkpoint-dir storage (Spark only
    auto-cleans when cleanCheckpoints was set at session build)."""
    import os
    from streamingpro_spark import Engine
    from streamingpro_spark.operators.base import eager_materialize
    ckdir = tmp_path_factory.mktemp("ck")          # session-scoped tmp
    spark.sparkContext.setCheckpointDir(str(ckdir))
    eng = Engine(spark)
    mat = eager_materialize(spark.range(10), {}, eng.context)
    assert mat.count() == 10
    assert len(eng.context.checkpoint_files) == 1
    local = eng.context.checkpoint_files[0].replace("file:", "")
    assert os.path.exists(local)
    eng.close()
    assert not os.path.exists(local)
    assert eng.context.checkpoint_files == []


def test_ivf_index_persist_and_reuse(engine, sf_dir, tmp_path):
    """IVF centroids persist to the ET path and are REUSED on later
    calls (100 TB posture: train the index once, not per query batch)."""
    import os
    path = tmp_path / "ivf_idx"
    q = f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as IVFSimilaritySearch.`{path}` where k="3" and nlist="8"
    and nprobe="8" and queryFilter="vec_id < 10" as i_out;
    """
    first = engine.execute(q).collect()
    cent_file = path / "centroids.json"
    assert cent_file.exists()
    mtime = os.path.getmtime(cent_file)
    second = engine.execute(q).collect()
    assert os.path.getmtime(cent_file) == mtime   # not retrained
    key = lambda rows: {(r["query_id"], r["rank"]): r["neighbor_id"]
                        for r in rows}
    assert key(first) == key(second)
    engine.execute(q.replace('nprobe="8"', 'nprobe="8" and retrain="true"'))
    assert os.path.getmtime(cent_file) != mtime   # forced rebuild


def test_ivf_index_build_partition_pruned_search(engine, sf_dir, tmp_path):
    """IVFIndexBuild writes the corpus partitioned by cell; a search
    over the same path scans ONLY the probed cells (PartitionFilters
    in the plan) and stays exact at nprobe=nlist."""
    import os
    path = tmp_path / "ivf_built"
    built = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as IVFIndexBuild.`{path}` where nlist="8" as built;
    """).collect()[0]
    assert built["nlist"] == 8 and (path / "centroids.json").exists()
    cells = sorted(d for d in os.listdir(path / "corpus")
                   if d.startswith("cell="))
    assert len(cells) >= 2                        # genuinely partitioned
    # exact at nprobe=nlist, queries from the INPUT table
    exact = engine.execute("""
    run emb as SimilaritySearch.`` where k="3"
    and queryFilter="vec_id < 20" as e_out2;
    """).collect()
    via_index = engine.execute(f"""
    select * from emb where vec_id < 20 as q2;
    run q2 as IVFSimilaritySearch.`{path}` where k="3" and nprobe="8"
    as i_out2;
    """).collect()
    key = lambda rows: {(r["query_id"], r["rank"]): r["neighbor_id"]
                        for r in rows}
    assert key(via_index) == key(exact)
    # nprobe < nlist: the scan is partition-pruned — provable in plan
    df = engine.execute(f"""
    select * from emb where vec_id < 5 as q3;
    run q3 as IVFSimilaritySearch.`{path}` where k="3" and nprobe="2"
    as i_out3;
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan


def test_ivf_index_incremental_append(engine, sf_dir, tmp_path):
    """append="true": new rows are assigned to the EXISTING centroids
    and appended into the cell partitions — no re-cluster; searches
    find BOTH generations and the scan stays partition-pruned
    (VERDICT r5 ask #5)."""
    import json
    import os
    path = tmp_path / "ivf_inc"
    engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    select * from emb where vec_id < 40 as gen1;
    select * from emb where vec_id >= 40 and vec_id < 80 as gen2;
    run gen1 as IVFIndexBuild.`{path}` where nlist="4" as b1;
    """)
    cent_before = (path / "centroids.json").read_text()
    engine.execute(f"""
    run gen2 as IVFIndexBuild.`{path}` where append="true" as b2;
    """)
    assert (path / "centroids.json").read_text() == cent_before
    # exact search (nprobe=nlist) over the index must see both gens
    rows = engine.execute(f"""
    select * from emb where vec_id = 0 as q;
    run q as IVFSimilaritySearch.`{path}` where k="60" and nprobe="4"
    as s_inc;
    """).collect()
    seen = {r["neighbor_id"] for r in rows}
    assert any(n < 40 for n in seen) and any(40 <= n < 80 for n in seen)
    assert not any(n >= 80 for n in seen)         # only indexed rows
    # appended rows live in the same partition layout: still prunable
    df = engine.execute(f"""
    run q as IVFSimilaritySearch.`{path}` where k="3" and nprobe="1"
    as s_pruned;
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan
    # append without an existing index is a rendered error
    import pytest as _pytest
    with _pytest.raises(Exception, match="append"):
        engine.execute(f"""
        run gen2 as IVFIndexBuild.`{tmp_path / "nothere"}`
        where append="true" as bad;
        """)


def test_ivf_pq_adc_search_and_rerank(engine, sf_dir, tmp_path):
    """IVF-PQ (Jégou et al. 2011): the index stores 1-byte-per-subspace
    codes; searches scan CODES (ADC lookup tables), never the vector
    column — proven in the plan via ReadSchema — and `rerank` exact-
    rescores the top-R candidates.  Recall vs brute force must be high
    on real embeddings; with rerank the top-1 neighbor matches."""
    import os
    path = tmp_path / "ivf_pq"
    built = engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as IVFIndexBuild.`{path}` where nlist="8"
    and pqSubspaces="16" as built;
    """).collect()[0]
    assert built["pq_subspaces"] == 16
    assert os.path.exists(path / "pq_codebooks.json")
    exact = engine.execute("""
    run emb as SimilaritySearch.`` where k="3"
    and queryFilter="vec_id < 20" as pq_exact;
    """).collect()
    # the DEFAULT search on a PQ index stays EXACT (usePQ is opt-in —
    # nprobe=nlist keeps its exactness contract)
    dflt = engine.execute(f"""
    select * from emb where vec_id < 20 as pq_q;
    run pq_q as IVFSimilaritySearch.`{path}` where k="3" and nprobe="8"
    as pq_dflt;
    """).collect()
    key = lambda rows: {(r["query_id"], r["rank"]): r["neighbor_id"]
                        for r in rows}
    assert key(dflt) == key(exact)
    df = engine.execute(f"""
    select * from emb where vec_id < 20 as pq_q;
    run pq_q as IVFSimilaritySearch.`{path}` where k="3" and nprobe="8"
    and usePQ="auto" as pq_adc;
    """)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "pq_code" in plan
    # column pruning: the ADC scan never reads the embedding column
    import re as _re
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scans and all("embedding" not in ln for ln in scans), scans
    adc = df.collect()
    exact_map = {}
    for r in exact:
        exact_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    adc_map = {}
    for r in adc:
        adc_map.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact_map[q] & adc_map.get(q, set()))
               for q in exact_map)
    total = sum(len(v) for v in exact_map.values())
    assert hits / total >= 0.6, f"ADC recall@3 {hits}/{total}"
    # rerank: exact rescoring of a generous ADC candidate set recovers
    # the true top-1 for every query
    rer = engine.execute(f"""
    run pq_q as IVFSimilaritySearch.`{path}` where k="3" and nprobe="8"
    and usePQ="auto" and rerank="50" as pq_rer;
    """).collect()
    top1_exact = {r["query_id"]: r["neighbor_id"] for r in exact
                  if r["rank"] == 1}
    top1_rer = {r["query_id"]: r["neighbor_id"] for r in rer
                if r["rank"] == 1}
    agree = sum(top1_rer.get(q) == n for q, n in top1_exact.items())
    assert agree >= 0.9 * len(top1_exact), (agree, len(top1_exact))
    # usePQ="true" without a PQ index is a rendered error
    import pytest as _pytest
    path2 = tmp_path / "ivf_nopq"
    engine.execute(f"run emb as IVFIndexBuild.`{path2}` where nlist=\"4\" "
                   f"as built2;")
    with _pytest.raises(Exception, match="pqSubspaces"):
        engine.execute(f"""
        run pq_q as IVFSimilaritySearch.`{path2}` where usePQ="true"
        as badpq;
        """)
    # pqSubspaces must divide the dim
    with _pytest.raises(Exception, match="divide"):
        engine.execute(f"""
        run emb as IVFIndexBuild.`{tmp_path / "bad"}` where nlist="4"
        and pqSubspaces="7" as bad2;
        """)


def test_ivf_pq_answer_quality_pinned(engine, spark, tmp_path):
    """Pins IVF-PQ answer QUALITY, not just set recall (round-8, the
    guard the ADC-kernel chunking change motivated): on a deterministic
    near-tie fixture — 40 tight clusters, the regime where set-recall
    is meaningless — the mean TRUE cosine of the returned top-5 must
    sit within epsilon of the brute-force optimum, and rerank must
    never score below raw ADC.  A kernel regression that starts
    returning wrong-cluster neighbors craters the mean and fails."""
    import numpy as np
    rng = np.random.default_rng(7)
    dim, n_clusters, per = 64, 40, 50
    centers = rng.standard_normal((n_clusters, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    corpus = np.repeat(centers, per, axis=0) \
        + 0.02 * rng.standard_normal((n_clusters * per, dim))
    corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
    queries = centers[:20] + 0.02 * rng.standard_normal((20, dim))
    queries /= np.linalg.norm(queries, axis=1, keepdims=True)

    corpus_df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(corpus)],
        "vec_id long, embedding array<float>")
    corpus_df.createOrReplaceTempView("pqq_corpus")
    q_df = spark.createDataFrame(
        [(100000 + i, [float(x) for x in v])
         for i, v in enumerate(queries)],
        "vec_id long, embedding array<float>")
    q_df.createOrReplaceTempView("pqq_queries")

    path = tmp_path / "ivf_pq_quality"
    engine.execute(f"""
    run pqq_corpus as IVFIndexBuild.`{path}` where nlist="8"
    and pqSubspaces="16" as pqq_built;
    """)
    # spark-side stores float32 — score against what the index saw
    cos = queries.astype(np.float32) @ corpus.astype(np.float32).T
    opt_mean = float(np.mean(np.sort(cos, axis=1)[:, -5:]))

    def mean_true_cosine(rows):
        per_q = {}
        for r in rows:
            per_q.setdefault(r["query_id"], []).append(
                cos[r["query_id"] - 100000, r["neighbor_id"]])
        assert len(per_q) == 20 and all(len(v) == 5
                                        for v in per_q.values()), {
            q: len(v) for q, v in per_q.items()}
        return float(np.mean([np.mean(v) for v in per_q.values()]))

    adc = engine.execute(f"""
    run pqq_queries as IVFSimilaritySearch.`{path}` where k="5"
    and nprobe="8" and usePQ="true" as pqq_adc;
    """).collect()
    adc_mean = mean_true_cosine(adc)
    rer = engine.execute(f"""
    run pqq_queries as IVFSimilaritySearch.`{path}` where k="5"
    and nprobe="8" and usePQ="true" and rerank="50" as pqq_rer;
    """).collect()
    rer_mean = mean_true_cosine(rer)
    # the committed bounds (SCALE.md's 50k probe measured 0.9813 ADC /
    # 0.9861 rerank vs 0.9865 optimal — gaps of 0.0052 / 0.0004):
    # ADC within 0.01 of optimal, rerank never below ADC
    assert adc_mean >= opt_mean - 0.01, (adc_mean, opt_mean)
    assert rer_mean >= adc_mean - 1e-6, (rer_mean, adc_mean)
    assert rer_mean >= opt_mean - 0.002, (rer_mean, opt_mean)


def test_ivf_pq_append_reencodes(engine, sf_dir, tmp_path):
    """append="true" on a PQ index re-encodes the increment under the
    FROZEN codebooks — searches see codes for both generations."""
    path = tmp_path / "ivf_pq_inc"
    engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    select * from emb where vec_id < 250 as pg1;
    select * from emb where vec_id >= 250 as pg2;
    run pg1 as IVFIndexBuild.`{path}` where nlist="4"
    and pqSubspaces="8" as b1;
    run pg2 as IVFIndexBuild.`{path}` where append="true" as b2;
    """)
    rows = engine.execute(f"""
    select * from emb where vec_id = 0 as pq_q2;
    run pq_q2 as IVFSimilaritySearch.`{path}` where k="400" and
    nprobe="4" and usePQ="true" as s2;
    """).collect()
    seen = {r["neighbor_id"] for r in rows}
    assert any(n < 250 for n in seen) and any(n >= 250 for n in seen)


def test_semdedup_reuses_ivf_index_centroids(engine, sf_dir, tmp_path):
    """SemDeDup indexPath: cell assignment from an IVFIndexBuild's
    persisted centroids — no per-run re-training; pairs match a
    standalone run at nlist=1 (exact) when the index has one cell."""
    import pytest as _pytest
    path = tmp_path / "sem_idx"
    engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as IVFIndexBuild.`{path}` where nlist="1" as built;
    """)
    with_idx = engine.execute(f"""
    run emb as SemDeDup.`` where threshold="0.3"
    and indexPath="{path}" and maxCellSize="100000" as sd1;
    """).collect()
    # the backtick path alone also finds the index (search-API parity)
    via_path = engine.execute(f"""
    run emb as SemDeDup.`{path}` where threshold="0.3"
    and maxCellSize="100000" as sd1b;
    """).collect()
    exact = engine.execute("""
    run emb as SemDeDup.`` where threshold="0.3" and nlist="1"
    and maxCellSize="100000" as sd2;
    """).collect()
    key = lambda rows: {(r["id_a"], r["id_b"]) for r in rows}
    assert key(with_idx) == key(exact) and with_idx
    assert key(via_path) == key(exact)
    with _pytest.raises(Exception, match="centroids.json"):
        engine.execute(f"""
        run emb as SemDeDup.`` where indexPath="{tmp_path / 'nope'}"
        as bad;
        """)


def test_ivf_retrain_with_persisted_corpus_is_error(engine, sf_dir,
                                                    tmp_path):
    """retrain="true" against a path holding an IVFIndexBuild corpus is
    a rendered error: retraining would overwrite centroids.json while
    the corpus stays partitioned under the OLD centroids, silently
    corrupting every later partition-pruned search (ADVICE r5 medium)."""
    import pytest as _pytest
    path = tmp_path / "ivf_poison"
    engine.execute(f"""
    load parquet.`{sf_dir}/embeddings.parquet` as emb;
    run emb as IVFIndexBuild.`{path}` where nlist="4" as built;
    """)
    with _pytest.raises(Exception, match="IVFIndexBuild"):
        engine.execute(f"""
        run emb as IVFSimilaritySearch.`{path}` where k="3"
        and retrain="true" and queryFilter="vec_id < 5" as bad;
        """)


def test_et_registry_covers_reference_list():
    """Registry diff vs the reference's ET name registry
    (TrainAdaptor.scala:124-168 MLMapping + ETRegister.scala:25-48):
    every reference name resolves here or is on the documented-drop
    list."""
    from streamingpro_spark.operators import registry
    registry._ensure_loaded()
    reference = {
        "NaiveBayes", "RandomForest", "GBTRegressor", "LDA", "KMeans",
        "FPGrowth", "StringIndex", "GBTs", "LSVM", "HashTfIdf", "TfIdf",
        "LogisticRegressor", "RowMatrix", "PageRank", "StandardScaler",
        "DicOrTableToArray", "TableToMap", "TokenExtract", "TokenAnalysis",
        "TfIdfInPlace", "RateSampler", "ScalerInPlace", "NormalizeInPlace",
        "PythonAlg", "ConfusionMatrix", "OpenCVImage", "JavaImage",
        "Discretizer", "SendMessage", "JDBC", "VecMapInPlace", "Map",
        "PythonAlgBP", "ScalaScriptUDF", "ScriptUDF", "MapValues",
        "ExternalPythonAlg", "Kill", "ShowCommand", "EngineResource",
        "HDFSCommand", "NothingET", "ModelCommand", "MLSQLEventCommand",
        "KafkaCommand", "DeltaCompactionCommand", "DeltaCommandWrapper",
        "ShowTablesExt", "DTF", "PythonCommand", "SchedulerCommand",
        "PluginCommand", "Ray", "RunScript", "PrintCommand",
        "IteratorCommand", "IfCommand", "ElifCommand", "ThenCommand",
        "FiCommand", "ElseCommand",
    }
    # engine-level !if statements, not ETs, in this architecture
    branching = {"IfCommand", "ElifCommand", "ThenCommand", "FiCommand",
                 "ElseCommand"}
    # documented out of scope (SURVEY §7 / MIGRATION.md)
    dropped = {"DTF", "Ray"}
    missing = reference - branching - dropped - set(registry._REGISTRY)
    assert missing == set()


def test_image_resize_real_pixels(engine, tmp_path):
    """ImageResize REALLY resamples pixels: a decoded PNG's gradient
    survives the nearest-neighbor downscale, and the output is itself a
    decodable PNG with the target dimensions."""
    from streamingpro_spark.functions.codecs import (make_bmp_encoder,
                                                     make_gif_encoder,
                                                     make_jpeg_encoder,
                                                     make_jpeg_header,
                                                     make_png_decoder,
                                                     make_png_encoder)
    (tmp_path / "a.png").write_bytes(make_png_encoder()(16, 8, seed=0))
    (tmp_path / "b.bmp").write_bytes(make_bmp_encoder()(10, 10))
    (tmp_path / "c.jpg").write_bytes(make_jpeg_header()(640, 480))
    (tmp_path / "d.gif").write_bytes(make_gif_encoder()(16, 8, seed=3))
    flat = [[(200, 100, 50)] * 16 for _ in range(8)]
    (tmp_path / "e.jpg").write_bytes(make_jpeg_encoder()(flat))
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/*` as files;
    run files as ImageResize.`` where width="4" and height="4" as out;
    select path, resized, resized_format from out as final;
    """)
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    dec = make_png_decoder()
    px = dec(bytes(rows["a.png"]["resized"]))
    assert len(px) == 4 and len(px[0]) == 4
    # source pixel value at (x,y) is (3x'+c+y)%256; nearest(4<-16) maps
    # out x to src x=4x, out y to src y=2y
    assert px[0][0] == [0, 1, 2]
    assert px[1][1] == [(12 + 2) % 256, (13 + 2) % 256, (14 + 2) % 256]
    bpx = dec(bytes(rows["b.bmp"]["resized"]))
    assert len(bpx) == 4 and bpx[0][0] == [0, 0, 0]
    # header-only JPEG (no entropy scan): stays null
    assert rows["c.jpg"]["resized"] is None
    assert rows["c.jpg"]["resized_format"] is None
    # GIF: real LZW decode — source value at (x,y) is (x+y+3)%256 gray
    gpx = dec(bytes(rows["d.gif"]["resized"]))
    assert len(gpx) == 4 and len(gpx[0]) == 4
    assert gpx[1][1] == [(4 + 2 + 3) % 256] * 3    # src (x=4, y=2)
    # REAL baseline JPEG: huffman + IDCT decode of a flat color field —
    # every resampled pixel lands within DCT quantization error
    jpx = dec(bytes(rows["e.jpg"]["resized"]))
    assert len(jpx) == 4 and len(jpx[0]) == 4
    for row in jpx:
        for px_ in row:
            assert all(abs(a - b) <= 3 for a, b in zip(px_, (200, 100, 50)))


def test_audio_features_pcm_stats(engine, tmp_path):
    """computeStats PCM-decodes the data chunk for real: a 440 Hz sine
    at half amplitude must show RMS ~ peak/sqrt(2), peak ~ 0.5*32767 and
    the analytic zero-crossing count 2*f*n/sr."""
    from streamingpro_spark.functions.codecs import make_wav_encoder
    (tmp_path / "t.wav").write_bytes(
        make_wav_encoder()(8000, 2000, channels=1, bits=16, freq=440.0))
    (tmp_path / "x.bin").write_bytes(b"RIFFxxxxAVI ")     # not audio
    df = engine.execute(f"""
    load binaryFile.`{tmp_path}/*` as files;
    run files as AudioFeatures.`` where computeStats="true" as out;
    select path, audio_stats.* from out as final;
    """)
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in df.collect()}
    s = rows["t.wav"]
    assert 15000 <= s["peak"] <= 16383
    assert abs(s["rms"] - s["peak"] / 2 ** 0.5) < 0.03 * s["peak"]
    assert abs(s["zero_crossings"] - 2 * 440 * 2000 // 8000) <= 3
    assert rows["x.bin"]["rms"] is None


def test_jpeg_codec_roundtrip():
    """The pure-numpy baseline JPEG codec round-trips within
    quantization error across 4:4:4, 4:2:0, grayscale and restart-
    marker streams."""
    from streamingpro_spark.functions.codecs import (make_jpeg_decoder,
                                                     make_jpeg_encoder)
    enc, dec = make_jpeg_encoder(), make_jpeg_decoder()
    px = [[((x + y) % 256, (2 * x) % 256, (3 * y) % 256)
           for x in range(33)] for y in range(21)]
    for kw, tol in [({}, 4), ({"subsample": True}, 6),
                    ({"restart": 2}, 4),
                    ({"subsample": True, "restart": 1}, 6),
                    ({"progressive": True}, 4)]:
        got = dec(enc(px, **kw))
        assert len(got) == 21 and len(got[0]) == 33, kw
        worst = max(abs(a - b) for rp, rg in zip(px, got)
                    for pa, pb in zip(rp, rg) for a, b in zip(pa, pb))
        assert worst <= tol, (kw, worst)
    # grayscale: decode returns the luma replicated to rgb
    g = dec(enc(px, grayscale=True))
    assert g[0][0][0] == g[0][0][1] == g[0][0][2]
    # spectral-selection progressive AND successive-approximation
    # must decode IDENTICALLY to baseline — the scans reorder (and for
    # SA, bit-split) the same quantized coefficients (flat background
    # → multi-block EOBRUN symbols + buffered correction bits)
    mixed = [[(120, 60, 200) if x > 12 else ((x * 7 + y) % 256,) * 3
              for x in range(40)] for y in range(24)]
    assert dec(enc(mixed, progressive=True)) == dec(enc(mixed))
    assert dec(enc(mixed, successive=True)) == dec(enc(mixed))
    assert dec(enc(px, successive=True)) == dec(enc(px))
    assert dec(enc(px, grayscale=True, successive=True)) \
        == dec(enc(px, grayscale=True))
    # junk and truncated streams are rejected, not crashed
    real = enc(px)
    for junk in (None, b"", b"\xff\xd8", real[:40], real[:-20]):
        assert dec(junk) is None


def test_gif_lzw_codec_roundtrip():
    """The pure-stdlib GIF LZW codec round-trips pixel-exactly, with and
    without interlacing, across the variable-code-width boundary."""
    from streamingpro_spark.functions.codecs import (make_gif_decoder,
                                                     make_gif_encoder)
    enc, dec = make_gif_encoder(), make_gif_decoder()
    for il in (False, True):
        px = dec(enc(31, 17, seed=9, interlace=il))
        assert len(px) == 17 and len(px[0]) == 31
        for y in range(17):
            for x in range(31):
                v = (x + y + 9) % 256
                assert px[y][x] == (v, v, v), (il, x, y)
    # a big image crosses code-width growth and the 4096-entry reset
    px = dec(enc(300, 200, seed=7))
    assert px[199][299] == ((299 + 199 + 7) % 256,) * 3
    for junk in (None, b"", b"GIF89a", b"GIF89a" + b"\x00" * 20, b"BM\x00"):
        assert dec(junk) is None


def test_exact_substr_dedup_annotate_and_remove(engine):
    # docs 1 and 2 share the 4-token span "a b c d"; doc 3 is clean
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"a b c d x y z w"}
    {"doc_id":2,"text":"p q a b c d r s"}
    {"doc_id":3,"text":"k l m n o u v t"}
    ''';
    load jsonStr.`data` as t;
    run t as ExactSubstrDedup.`` where windowSize="4" and mode="remove" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["dup_windows"] == 1 and rows[2]["dup_windows"] == 1
    assert rows[3]["dup_windows"] == 0
    # remove mode excises exactly the covered 4 tokens
    assert rows[1]["text_dedup"] == "x y z w"
    assert rows[2]["text_dedup"] == "p q r s"
    assert rows[3]["text_dedup"] == "k l m n o u v t"
    # doc shorter than the window: zero windows, nothing removed
    short = engine.execute("""
    set data = '''
    {"doc_id":9,"text":"one two"}
    ''';
    load jsonStr.`data` as t;
    run t as ExactSubstrDedup.`` where windowSize="4" and mode="remove" as out;
    """).collect()[0]
    assert short["n_windows"] == 0 and short["text_dedup"] == "one two"


def test_exact_substr_dedup_stride(engine):
    # stride=2 halves the window count for a 10-token doc (starts 1,3,5,7)
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"}
    ''';
    load jsonStr.`data` as t;
    run t as ExactSubstrDedup.`` where windowSize="4" and stride="2" as out;
    """)
    assert df.collect()[0]["n_windows"] == 4


def test_paragraph_dedup_first_occurrence_wins(engine):
    # "shared para" appears in docs 1 and 2 — doc 1 (earlier id) keeps it;
    # normalization ignores case and punctuation
    df = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"shared para\nunique one"}
    {"doc_id":2,"text":"SHARED, para!\nunique two"}
    {"doc_id":3,"text":"unique three"}
    ''';
    load jsonStr.`data` as t;
    run t as ParagraphDedup.`` where idCol="doc_id" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["n_kept"] == 2 and rows[1]["text"] == "shared para\nunique one"
    assert rows[2]["n_kept"] == 1 and rows[2]["text"] == "unique two"
    assert rows[3]["n_kept"] == 1
    # all-duplicate doc comes back empty rather than vanishing
    alld = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"only para"}
    {"doc_id":2,"text":"only para"}
    ''';
    load jsonStr.`data` as t;
    run t as ParagraphDedup.`` as out;
    """)
    rows = {r["doc_id"]: r for r in alld.collect()}
    assert rows[2]["n_kept"] == 0 and rows[2]["text"] == ""


def test_c4_quality_filter_modes(engine):
    df = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"This is a good line.\nAnother proper sentence here!\nAnd one more to pass.\nno punct line"}
    {"doc_id":2,"text":"lorem ipsum dolor sit amet. More text follows here. And again more."}
    {"doc_id":3,"text":"code { return 1; }. Sentence two is here. Sentence three is here."}
    {"doc_id":4,"text":"Too short.\nTiny!"}
    ''';
    load jsonStr.`data` as t;
    run t as C4QualityFilter.`` where minWordsPerLine="4" and minSentences="3" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["keep"] is True
    assert rows[1]["n_kept_lines"] == 3          # the no-punct line drops
    assert "no punct line" not in rows[1]["text_clean"]
    assert rows[2]["keep"] is False and rows[2]["has_lorem"] is True
    assert rows[3]["keep"] is False and rows[3]["has_brace"] is True
    assert rows[4]["keep"] is False              # lines under 4 words
    # filter mode returns only kept rows
    kept = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"This is a good line. Second sentence right here. Third one lands too."}
    {"doc_id":2,"text":"lorem ipsum dolor sit. More text follows here. And again more words."}
    ''';
    load jsonStr.`data` as t;
    run t as C4QualityFilter.`` where minWordsPerLine="4" and mode="filter" as out;
    """).collect()
    assert [r["doc_id"] for r in kept] == [1]


def test_url_filter_parse_and_flags(engine):
    """URL parsing edges: userinfo and port stripped from the host,
    www and fragment stripped plus trailing slashes trimmed in the
    normalized form, schemeless/null URLs dropped, and filter mode
    keeps only clean rows."""
    import json
    urls = [
        (1, "https://user:pw@WWW.Example.COM:8443/a/b/?q=1#frag"),
        (2, "http://ads.bad.net/x.html"),
        (3, "relative/path/only"),
        (4, None),
        (5, "https://ok.org/page.html"),
    ]
    data = "\n".join(json.dumps({"id": i, "url": u}) for i, u in urls)
    df = engine.execute(f"""
    set ujson = '''{data}''';
    load jsonStr.`ujson` as t;
    run t as UrlFilter.`` where blockedDomains="bad.net" as out;
    select id, url_host, url_domain, url_normalized, blocked_domain,
           keep from out as final;
    """)
    r = {row["id"]: row for row in df.collect()}
    assert r[1]["url_host"] == "www.example.com"
    assert r[1]["url_domain"] == "example.com"
    # normalized: lowercased, scheme and fragment gone; userinfo/port
    # are host-parse concerns and stay in the canonical string
    assert r[1]["url_normalized"] == "user:pw@www.example.com:8443/a/b/?q=1"
    assert r[1]["keep"] is True
    assert r[2]["blocked_domain"] is True and r[2]["keep"] is False
    assert r[3]["url_host"] == "" and r[3]["keep"] is False
    assert r[4]["url_host"] == "" and r[4]["keep"] is False
    assert r[5]["keep"] is True
    # filter mode keeps only the clean rows and drops the keep column
    df2 = engine.execute(f"""
    set ujson = '''{data}''';
    load jsonStr.`ujson` as t2;
    run t2 as UrlFilter.`` where blockedDomains="bad.net"
    and mode="filter" as out2;
    select id from out2 as final2;
    """)
    assert sorted(row["id"] for row in df2.collect()) == [1, 5]
    # trailing slashes trim in the normalized form
    df3 = engine.execute("""
    select "https://A.com/path///" as url as t3;
    run t3 as UrlFilter.`` as out3;
    select url_normalized from out3 as final3;
    """)
    assert df3.first()["url_normalized"] == "a.com/path"


def test_c4_quality_bad_words(engine):
    df = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"A clean sentence sits here. Another clean one follows now. Third sentence closes it."}
    {"doc_id":2,"text":"A spammy sentence sits here. Another clean one follows now. Third sentence closes it."}
    ''';
    load jsonStr.`data` as t;
    run t as C4QualityFilter.`` where minWordsPerLine="4" and badWords="spammy" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["keep"] is True and rows[1]["has_bad_word"] is False
    assert rows[2]["keep"] is False and rows[2]["has_bad_word"] is True


def test_text_normalize_steps(engine):
    """Each TextNormalize step observable in isolation and in the
    default chain; null text stays null."""
    df = engine.execute("""
    set data = '''
    {"id":1,"text":"\\u201cSmart\\u201d \\u2018quotes\\u2019 \\u2014 and \\u2013 dashes\\u2026"}
    {"id":2,"text":"Caf\\u00e9 na\\u00efve \\u00dcber"}
    {"id":3,"text":"room 402, floor 7"}
    {"id":4,"text":"  lots\\tof\\n\\n whitespace  "}
    {"id":5,"text":"ctrl\\u0007here"}
    {"id":6,"text":null}
    ''';
    load jsonStr.`data` as t;
    run t as TextNormalize.`` where stripAccents="true"
        and digitsToZero="true" and outputCol="text_norm" as out;
    """)
    r = {row["id"]: row["text_norm"] for row in df.collect()}
    assert r[1] == '"smart" \'quotes\' - and - dashes...'
    assert r[2] == "cafe naive uber"
    assert r[3] == "room 000, floor 0"
    assert r[4] == "lots of whitespace"
    assert r[5] == "ctrlhere"          # BEL stripped, no space left
    assert r[6] is None
    # step gating: everything off is identity; in-place is the default
    df2 = engine.execute("""
    select "  A\\u2014B 7  " as text as t2;
    run t2 as TextNormalize.`` where stripControl="false"
        and unifyPunct="false" and lowercase="false"
        and collapseWhitespace="false" as out2;
    """)
    assert df2.first()["text"] == "  A—B 7  "
    # normalization makes byte-variants collide for downstream dedup
    df3 = engine.execute("""
    set data = '''
    {"id":1,"text":"The  CAF\\u00c9 deal\\u2026"}
    {"id":2,"text":"the caf\\u00e9 deal..."}
    ''';
    load jsonStr.`data` as t3;
    run t3 as TextNormalize.`` where stripAccents="true" as n3;
    select count(distinct text) as n from n3 as out3;
    """)
    assert df3.first()["n"] == 1


def test_gopher_quality_filter_rules(engine):
    """Each Gopher §A1.1 rule trips on exactly the doc built to trip it
    (minWords lowered to 5 to keep the fixture readable)."""
    df = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"the cat and the dog have run off to that old barn with hay"}
    {"doc_id":2,"text":"the end of it"}
    {"doc_id":3,"text":"extraordinarily magnificent hippopotamus extravaganza celebration and the spectacular incomprehensibilities internationalization achievements of distinguished personalities"}
    {"doc_id":4,"text":"the price # and # cost # of # it # went # up # fast # now # ok"}
    {"doc_id":5,"text":"- the first bullet item\n- and the second one\n- plus a third here"}
    {"doc_id":6,"text":"the thought trails off ...\nand again it does ...\nbut this one ends fine"}
    {"doc_id":7,"text":"the 1 2 3 4 5 6 7 8 9 10 11 12 13 and 15"}
    {"doc_id":8,"text":"quick brown fox jumps over lazy dogs near quiet river banks daily"}
    {"doc_id":9,"text":null}
    ''';
    load jsonStr.`data` as t;
    run t as GopherQualityFilter.`` where minWords="5" as out;
    """)
    r = {row["doc_id"]: row for row in df.collect()}
    assert r[1]["keep"] is True
    assert r[1]["n_required_stopwords"] >= 2
    assert r[2]["keep"] is False and r[2]["n_words"] == 4     # minWords
    assert r[3]["keep"] is False                              # mean len > 10
    assert r[3]["mean_word_len"] > 10
    assert r[4]["keep"] is False                              # '#' ratio
    assert r[4]["symbol_word_ratio"] > 0.1
    assert r[5]["keep"] is False                              # all bullets
    assert r[5]["frac_bullet_lines"] == 1.0
    assert r[6]["keep"] is False                              # 2/3 ellipsis
    assert abs(r[6]["frac_ellipsis_lines"] - 0.6667) < 1e-9
    assert r[7]["keep"] is False                              # digit words
    assert r[7]["frac_alpha_words"] < 0.8
    assert r[8]["keep"] is False                              # no stopwords
    assert r[8]["n_required_stopwords"] == 0
    assert r[9]["keep"] is False                              # null text
    # filter mode keeps only the good doc and drops the keep column
    kept = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"the cat and the dog have run off to that old barn with hay"}
    {"doc_id":2,"text":"the end of it"}
    ''';
    load jsonStr.`data` as t2;
    run t2 as GopherQualityFilter.`` where minWords="5" and mode="filter" as out2;
    """)
    rows = kept.collect()
    assert [row["doc_id"] for row in rows] == [1]
    assert "keep" not in kept.columns


def test_exact_substr_dedup_matches_python_reference(engine, spark):
    # deterministic pseudo-random corpus with planted repeats; compare
    # per-doc counts against a direct python implementation
    import json
    W = 3
    vocab = ["a", "b", "c", "d", "e"]
    docs = []
    for i in range(30):
        toks = [vocab[(i * 7 + j * 3) % 5] for j in range(6 + i % 5)]
        docs.append((i, " ".join(toks)))
    payload = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    df = engine.execute(f"""
    set data = '''
    {payload}
    ''';
    load jsonStr.`data` as t;
    run t as ExactSubstrDedup.`` where windowSize="{W}" as out;
    """)
    got = {r["doc_id"]: (r["n_windows"], r["dup_windows"]) for r in df.collect()}

    from collections import Counter
    wins = {}
    for i, t in docs:
        toks = t.lower().split()
        wins[i] = [" ".join(toks[s:s + W]) for s in range(len(toks) - W + 1)]
    counts = Counter(w for ws in wins.values() for w in ws)
    for i, _ in docs:
        exp_n = len(wins[i])
        exp_dup = sum(1 for w in wins[i] if counts[w] > 1)
        assert got[i] == (exp_n, exp_dup), (i, got[i], (exp_n, exp_dup))


def test_paragraph_dedup_matches_python_reference(engine):
    import json
    import re
    paras_pool = ["alpha beta", "gamma delta", "epsilon zeta", "eta theta"]
    docs = []
    for i in range(20):
        ps = [paras_pool[(i + j) % 4] for j in range(1 + i % 3)]
        docs.append((i, "\n".join(ps)))
    payload = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    df = engine.execute(f"""
    set data = '''
    {payload}
    ''';
    load jsonStr.`data` as t;
    run t as ParagraphDedup.`` as out;
    """)
    got = {r["doc_id"]: (r["n_paras"], r["n_kept"], r["text"])
           for r in df.collect()}

    seen, keep = set(), {}
    for i, t in docs:
        kept = []
        for p in t.split("\n"):
            norm = re.sub(r"[^a-z0-9 ]", "", p.lower())
            if not norm.strip():
                continue
            if norm not in seen:
                seen.add(norm)
                kept.append(p)
        keep[i] = kept
    # every normalized paragraph survives exactly once corpus-wide
    assert sum(k for _, k, _ in got.values()) == len(seen)
    for i, t in docs:
        n_paras = len([p for p in t.split("\n")
                       if re.sub(r"[^a-z0-9 ]", "", p.lower()).strip()])
        assert got[i] == (n_paras, len(keep[i]), "\n".join(keep[i])), i


def test_exact_substr_remove_preserves_casing(engine):
    # excision must keep the original casing of surviving tokens even
    # though duplicate DETECTION is case-insensitive
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"A B C D Keep Me Here Now"}
    {"doc_id":2,"text":"x y a b c d z w"}
    ''';
    load jsonStr.`data` as t;
    run t as ExactSubstrDedup.`` where windowSize="4" and mode="remove" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["dup_windows"] == 1          # "a b c d" matches doc 2
    assert rows[1]["text_dedup"] == "Keep Me Here Now"
    assert rows[2]["text_dedup"] == "x y z w"


def test_paragraph_dedup_degenerate_docs_keep_their_row(engine):
    # punctuation-only and all-duplicate docs still emit a row
    df = engine.execute(r"""
    set data = '''
    {"doc_id":1,"text":"real para"}
    {"doc_id":2,"text":"---"}
    {"doc_id":3,"text":"real para"}
    ''';
    load jsonStr.`data` as t;
    run t as ParagraphDedup.`` as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["n_paras"] == 0 and rows[2]["n_kept"] == 0
    assert rows[2]["text"] == ""
    assert rows[3]["n_kept"] == 0


def test_paragraph_dedup_literal_separator(engine):
    # sep is literal, not a regex: "|" must not split per character
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":"first para|second para"}
    {"doc_id":2,"text":"second para|third para"}
    ''';
    load jsonStr.`data` as t;
    run t as ParagraphDedup.`` where sep="|" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["n_paras"] == 2 and rows[1]["text"] == "first para|second para"
    assert rows[2]["n_kept"] == 1 and rows[2]["text"] == "third para"


def test_exact_substr_count_strategies_agree(engine, sf_dir):
    # the skew-safe join path and the 1-pass window path are the same
    # operator — identical per-doc counts on the fixture corpus
    outs = {}
    for strat in ("window", "join"):
        df = engine.execute(f"""
        load parquet.`{sf_dir}/documents.parquet` as docs;
        run docs as ExactSubstrDedup.`` where windowSize="8"
            and countStrategy="{strat}" as out;
        select doc_id, n_windows, dup_windows from out as output;
        """)
        outs[strat] = sorted((r["doc_id"], r["n_windows"], r["dup_windows"])
                             for r in df.collect())
    assert outs["window"] == outs["join"]


def test_curation_ops_null_text(engine):
    # null text must not leak negative sizes or crash any of the three
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"text":null}
    {"doc_id":2,"text":"a real sentence sits here."}
    ''';
    load jsonStr.`data` as t;
    run t as C4QualityFilter.`` where minWordsPerLine="3" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["n_lines"] >= 0 and rows[1]["keep"] is False
    for op, extra in [("ExactSubstrDedup", ' where windowSize="4"'),
                      ("ParagraphDedup", "")]:
        df = engine.execute(f"""
        set data = '''
        {{"doc_id":1,"text":null}}
        {{"doc_id":2,"text":"alpha beta gamma delta"}}
        ''';
        load jsonStr.`data` as t;
        run t as {op}.``{extra} as out;
        """)
        ids = sorted(r["doc_id"] for r in df.collect())
        assert ids == [1, 2], (op, ids)


def test_tfidf_in_place_register_serving(engine, tmp_path):
    """register TfIdfInPlace as a serving UDF: the pure-python murmur3
    chain reproduces the JVM train-time vector exactly."""
    df = engine.execute(f"""
    set data = '''
    {{"content":"spark spark streaming"}}
    {{"content":"flink batch"}}
    ''';
    load jsonStr.`data` as corpus;
    train corpus as TfIdfInPlace.`{tmp_path}/tfip` where inputCol="content" as trained;
    register TfIdfInPlace.`{tmp_path}/tfip` as tfip_fn;
    select tfip_fn('spark spark streaming') as v,
           tfip_fn(null) as v_null as output;
    """)
    row = df.collect()[0]
    trained = {tuple(r["content"].indices.tolist()):
               [round(x, 6) for x in r["content"].values.tolist()]
               for r in engine.execute(f"""
    set data = '''
    {{"content":"spark spark streaming"}}
    {{"content":"flink batch"}}
    ''';
    load jsonStr.`data` as corpus;
    train corpus as TfIdfInPlace.`{tmp_path}/tfip2` where inputCol="content" as t2;
    """).collect()}
    got = (tuple(row["v"].indices.tolist()),
           [round(x, 6) for x in row["v"].values.tolist()])
    assert got[0] in trained and trained[got[0]] == got[1], (got, trained)
    assert row["v_null"].numNonzeros() == 0


def test_word2vec_in_place_register_serving(engine, tmp_path):
    df = engine.execute(f"""
    set data = '''
    {{"content":"spark streaming engine"}}
    {{"content":"spark batch engine"}}
    ''';
    load jsonStr.`data` as corpus;
    train corpus as Word2VecInPlace.`{tmp_path}/w2vip` where inputCol="content"
        and vectorSize="8" and minCount="1" as trained;
    register Word2VecInPlace.`{tmp_path}/w2vip` as w2v_fn;
    select w2v_fn('spark batch engine') as v, w2v_fn('zzz unknown') as v0 as output;
    """)
    row = df.collect()[0]
    assert len(row["v"]) == 8 and any(abs(x) > 0 for x in row["v"])
    assert all(x == 0.0 for x in row["v0"])


def test_scaler_all_null_column(engine):
    # all-null input must not crash stats collection; nulls stay null
    df = engine.execute("""
    set data = '''
    {"a":null,"b":1.0}
    {"a":null,"b":3.0}
    ''';
    load jsonStr.`data` as t;
    run t as ScalerInPlace.`` where inputCols="a,b" and scaleMethod="min-max" as out;
    """)
    rows = df.collect()
    assert all(r["a"] is None for r in rows)
    assert sorted(r["b"] for r in rows) == [0.0, 1.0]


def test_feature_extract_null_text(engine):
    df = engine.execute("""
    set data = '''
    {"doc":null}
    {"doc":"mail me at a@b.co now"}
    ''';
    load jsonStr.`data` as t;
    run t as FeatureExtractInPlace.`` where inputCol="doc" as out;
    """)
    rows = sorted(df.collect(), key=lambda r: r["length"])
    assert rows[0]["email"] == 0 and rows[0]["length"] == 0 \
        and rows[0]["numberRatio"] == 0.0
    assert rows[1]["email"] == 1


def test_raw_similar_preserves_user_id_column(engine):
    # a user column literally named "id" must survive the operator
    df = engine.execute("""
    set data = '''
    {"doc_id":1,"id":"keep-a","text":"alpha beta gamma delta epsilon"}
    {"doc_id":2,"id":"keep-b","text":"alpha beta gamma delta epsilon"}
    ''';
    load jsonStr.`data` as t;
    run t as RawSimilarInPlace.`` where idCol="doc_id" and textCol="text"
        and threshold="0.5" as out;
    """)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows[1]["id"] == "keep-a" and rows[2]["id"] == "keep-b"
    assert rows[1]["__similar__"] == 1 and rows[2]["__similar__"] == 1


def test_similarity_empty_query_set(engine, sf_dir):
    # a filter matching no rows returns an empty frame, not AxisError
    for op, extra in [("SimilaritySearch", ""),
                      ("IVFSimilaritySearch", ' and nlist="4"'),
                      ("LSHSimilaritySearch", "")]:
        df = engine.execute(f"""
        load parquet.`{sf_dir}/embeddings.parquet` as emb;
        run emb as {op}.`` where queryFilter="vec_id < 0"{extra} as out;
        """)
        assert df.count() == 0, op


def test_similarity_zero_vector_no_nan(engine):
    # a zero vector must not produce NaN cosines that outrank real hits
    df = engine.execute("""
    set data = '''
    {"vec_id":1,"embedding":[0.0,0.0]}
    {"vec_id":2,"embedding":[1.0,0.0]}
    {"vec_id":3,"embedding":[0.9,0.1]}
    ''';
    load jsonStr.`data` as emb;
    run emb as LSHSimilaritySearch.`` where k="1"
        and queryFilter="vec_id = 2" as out;
    """)
    rows = df.collect()
    assert rows and all(r["cosine"] == r["cosine"] for r in rows)  # not NaN
    assert rows[0]["neighbor_id"] == 3, rows


def test_similarity_query_filter_on_original_columns(engine):
    # queryFilter referencing a non-id column must work (the old regex
    # rewrite ran against the projected plan and failed)
    df = engine.execute("""
    set data = '''
    {"vec_id":1,"grp":"q","embedding":[1.0,0.0]}
    {"vec_id":2,"grp":"c","embedding":[0.9,0.1]}
    {"vec_id":3,"grp":"c","embedding":[0.0,1.0]}
    ''';
    load jsonStr.`data` as emb;
    run emb as LSHSimilaritySearch.`` where k="2"
        and queryFilter="grp = 'q'" as out;
    """)
    rows = df.collect()
    assert {r["query_id"] for r in rows} == {1}


def test_lda_predict_register_roundtrip(engine, tmp_path):
    # LDAModel.load does not exist; the wrapper must resolve the
    # concrete LocalLDAModel for predict/register verbs
    df = engine.execute(f"""
    set data = '''
    {{"text":"spark streaming data engine"}}
    {{"text":"sql query plan optimizer"}}
    {{"text":"spark sql engine plan"}}
    ''';
    load jsonStr.`data` as corpus;
    run corpus as TfIdfInPlace.`` where inputCol="text" as feats;
    select text as features from feats as lda_in;
    train lda_in as LDA.`{tmp_path}/lda` where k="2" and maxIter="3" as t;
    predict lda_in as LDA.`{tmp_path}/lda` as scored;
    """)
    rows = df.collect()
    assert len(rows) == 3 and "topicDistribution" in df.columns


def test_table_repartition_range_requires_cols(engine):
    import pytest as _pytest
    with _pytest.raises(ValueError, match="partitionCols"):
        engine.execute("""
        set data = '''
        {"x":1}
        ''';
        load jsonStr.`data` as t;
        run t as TableRepartition.`` where partitionType="range"
            and partitionNum="4" as out;
        """)


def test_json_expand_all_null_column(engine):
    df = engine.execute("""
    set data = '''
    {"value":null}
    {"value":null}
    ''';
    load jsonStr.`data` as t;
    run t as JsonExpandExt.`` where inputCol="value" as out;
    """)
    assert df.count() == 2   # passthrough, not "Unable to infer schema"


def test_image_dedup_negative_hamming_rejected(engine):
    """maxHamming < 0 must raise, not silently fall into exact mode
    (a different output contract)."""
    import pytest as _pytest
    with _pytest.raises(Exception, match=r"\[0, 63\]"):
        engine.execute("""
        select 1 as id, 5 as h as t;
        run t as ImageDedup.`` where idCol="id" and hashCol="h"
        and maxHamming="-2" as bad;
        """)


def test_soft_dedup_weights(engine):
    """SoftDedup keeps every row and weights each near-dup cluster to
    one doc's worth of mass: 3 copies -> weight 1/3 each, singletons
    weight 1.0; cluster id is the min doc id; full schema preserved."""
    import json
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, base), (2, base), (3, base),
            (5, "completely different text about spark dataframes and "
                "shuffles"),
            (6, "a third topic entirely parquet files and column "
                "pruning")]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t, "src": "s"})
                   for i, t in docs)
    rows = engine.execute(f"""
    set sdj = '''{dj}''';
    load jsonStr.`sdj` as sd_docs;
    run sd_docs as SoftDedup.`` where threshold="0.8" as out;
    """).collect()
    r = {row["doc_id"]: row for row in rows}
    assert sorted(r) == [1, 2, 3, 5, 6]          # nothing removed
    for i in (1, 2, 3):
        assert r[i]["dup_cluster_id"] == 1
        assert r[i]["dup_cluster_size"] == 3
        assert abs(r[i]["sample_weight"] - 1 / 3) < 1e-6
    for i in (5, 6):
        assert r[i]["dup_cluster_id"] == i
        assert r[i]["dup_cluster_size"] == 1
        assert r[i]["sample_weight"] == 1.0
    # expected training mass: each cluster contributes ~1 doc (weights
    # are rounded to 6 decimals, so the sum is off by <= n*5e-7)
    assert abs(sum(row["sample_weight"] for row in rows) - 3.0) < 5e-6
    assert set(rows[0].asDict()) == {"doc_id", "text", "src",
                                     "dup_cluster_id", "dup_cluster_size",
                                     "sample_weight"}


def test_soft_dedup_rejects_ref_table(engine):
    """refTable pairs reference ids absent from the input, so cluster
    weights would be silently wrong — rendered error with the remedy,
    and the inherited param row is not advertised."""
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no refTable mode"):
        engine.execute("""
        select 1 as doc_id, 'x' as text as d;
        run d as SoftDedup.`` where refTable="d" as out;
        """)
    from streamingpro_spark.operators.dedup import SoftDedup
    assert all(p[0] != "refTable" for p in SoftDedup().explain_params())


def test_dup_clusters_fixpoint_on_last_round_is_not_an_error(engine):
    """A chain whose labels reach the fixpoint EXACTLY on round maxIter
    is correct — the verification pass must accept it instead of
    raising a spurious non-convergence error."""
    df = engine.execute("""
    select * from (values (1, 2), (2, 3)) v(doc_a, doc_b) as chain2;
    select explode(sequence(1, 3)) as doc_id as docs3;
    run docs3 as DupClusters.`` where pairsTable="chain2"
        and idCol="doc_id" and maxIter="2" as out;
    """)
    rows = {r["doc_id"]: r["cluster_id"] for r in df.collect()}
    assert rows == {1: 1, 2: 1, 3: 1}


def test_gopher_empty_split_tokens_not_counted(engine):
    """Leading/trailing whitespace or a terminal newline must not
    inflate n_words (and an empty doc has 0 words, not 1)."""
    df = engine.execute("""
    select * from (values
      (1, concat(chr(10), 'the cat and dog have fun', chr(10))),
      (2, ''), (3, '   ')) v(doc_id, text) as d;
    run d as GopherQualityFilter.`` where minWords="1" as out;
    """)
    r = {row["doc_id"]: row for row in df.collect()}
    assert r[1]["n_words"] == 6
    assert abs(r[1]["frac_alpha_words"] - 1.0) < 1e-9
    assert r[2]["n_words"] == 0 and r[3]["n_words"] == 0


def test_text_normalize_strips_c1_controls(engine):
    """stripControl removes C1 (U+0080-U+009F) as documented — NEL and
    friends from mis-decoded windows-1252 web text must not keep
    byte-variant near-dups hashing apart."""
    df = engine.execute("""
    select concat('da', chr(133), 'ta and da', chr(128), 'ta') as text
    as d;
    run d as TextNormalize.`` where outputCol="n" as out;
    """)
    assert df.collect()[0]["n"] == "data and data"


def test_soft_dedup_rerun_overwrites_annotations(engine):
    """Re-running SoftDedup over already-weighted input must REPLACE
    dup_cluster_id/dup_cluster_size/sample_weight (overwrite convention
    shared with PerplexityBucket/TokenBudgetSample), not emit duplicate
    column names that make downstream references ambiguous."""
    import json
    base = "the quick brown fox jumps over the lazy dog again and again"
    dj = "\n".join(json.dumps({"doc_id": i, "text": t})
                   for i, t in [(1, base), (2, base), (3, "other text "
                                "entirely about parquet and shuffles")])
    df = engine.execute(f"""
    set sdr = '''{dj}''';
    load jsonStr.`sdr` as sdr_docs;
    run sdr_docs as SoftDedup.`` where threshold="0.8" as once;
    run once as SoftDedup.`` where threshold="0.8" as out;
    """)
    for c in ("dup_cluster_id", "dup_cluster_size", "sample_weight"):
        assert df.columns.count(c) == 1, df.columns
    r = {row["doc_id"]: row for row in df.collect()}
    assert r[1]["dup_cluster_size"] == 2 and r[3]["sample_weight"] == 1.0


def test_near_dedup_null_id_rows_kept(engine):
    """NULL-id rows pass through NearDedup self mode unchanged — the
    defined semantics since round 11 (anti-join on non-survivors: a
    null key never matches), consistent with the refTable branch which
    has always anti-joined.  Pre-r11 the semi-join on survivors dropped
    them as a null-matching side effect; this pins the intentional
    change (round-12 advice)."""
    import json
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [(1, base), (2, base),
            (7, "completely different text about spark dataframes and "
                "shuffles"),
            (None, "a null id row rides along and is never a dedup "
                   "candidate")]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    rows = engine.execute(f"""
    set nnj = '''{dj}''';
    load jsonStr.`nnj` as nn_docs;
    run nn_docs as NearDedup.`` where threshold="0.8" as out;
    """).collect()
    ids = sorted((r["doc_id"] for r in rows), key=lambda x: (x is None, x))
    assert ids == [1, 7, None]


def test_soft_dedup_duplicate_id_rows(engine):
    """Duplicate ids violate the dedup contract (idCol is the document
    key); the defined behavior is the singleton default — each of the k
    rows sharing an id reports (id, 1, 1.0) when no near-dup cluster
    involves them (round-12 advice: the pre-r11 corpus-wide groupBy
    incidentally reported size k / weight 1/k for that id)."""
    import json
    docs = [(1, "completely different text about spark dataframes and "
                "shuffles"),
            (1, "a second distinct row reusing the same document id"),
            (2, "a third topic entirely parquet files and column "
                "pruning")]
    dj = "\n".join(json.dumps({"doc_id": i, "text": t}) for i, t in docs)
    rows = engine.execute(f"""
    set ddj = '''{dj}''';
    load jsonStr.`ddj` as dd_docs;
    run dd_docs as SoftDedup.`` where threshold="0.8" as out;
    """).collect()
    assert len(rows) == 3                        # nothing removed
    for r in rows:
        assert r["dup_cluster_id"] == r["doc_id"]
        assert r["dup_cluster_size"] == 1
        assert r["sample_weight"] == 1.0


def test_flatten_unions_fallback_warns_once(spark):
    """When the Spark-internal CombineUnions entry points are
    unavailable, flatten_unions must fall back to the input plan AND
    emit a one-time RuntimeWarning — a silently disabled cache-key
    normalization would reintroduce the round-11 full-lineage recompute
    with no signal on a future Spark bump (round-12 advice)."""
    import warnings
    from streamingpro_spark.operators import base

    class _Boom:
        isStreaming = False

        @property
        def sparkSession(self):
            raise RuntimeError("simulated missing internal API")

    old = base._FLATTEN_UNIONS_WARNED
    base._FLATTEN_UNIONS_WARNED = False
    try:
        boom = _Boom()
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            assert base.flatten_unions(boom) is boom
            assert base.flatten_unions(boom) is boom
        msgs = [x for x in w if issubclass(x.category, RuntimeWarning)
                and "flatten_unions" in str(x.message)]
        assert len(msgs) == 1, [str(x.message) for x in w]
    finally:
        base._FLATTEN_UNIONS_WARNED = old


def test_cache_ext_no_view_persists_original_plan(spark):
    """Direct-API CacheExt (no __table__): the cache entry must be the
    caller's own plan — flattening without a view to re-point would
    make every consumer holding the original df miss the cache
    (round-12 advice fix)."""
    from streamingpro_spark.operators.table_ops import CacheExt
    spark.range(3).createOrReplaceTempView("ce_a")
    spark.range(3, 6).createOrReplaceTempView("ce_b")
    spark.range(6, 9).createOrReplaceTempView("ce_c")
    nested = spark.sql("select id from ce_a union all select id from ce_b "
                       "union all select id from ce_c")
    out = CacheExt().train(nested, "", {"isEager": "false"})
    try:
        assert out is nested                   # same plan object cached
        assert nested.storageLevel.useMemory
    finally:
        nested.unpersist()


def test_language_id_tiebreak_and_und(engine):
    """lang_pred semantics pinned against the round-12 array-argmax
    rewrite: ties go to the FIRST maximal language in the fixed
    en,de,fr,es,zh order, and an all-zero score vector is 'und'."""
    df = engine.execute("""
    select * from (values
      (1, 'the le'),
      (2, 'le la les et est un une in'),
      (3, 'zzz qqq xxx'),
      (4, '的 是 了'),
      (5, null)) v(doc_id, text) as d;
    run d as LanguageID.`` as out;
    """)
    got = {r["doc_id"]: r["lang_pred"] for r in df.collect()}
    assert got[1] == "en"        # en/fr tie at 0.1 -> first in order
    assert got[2] == "fr"        # fr strictly ahead of en
    assert got[3] == "und"       # no marker hits anywhere
    assert got[4] == "zh"
    assert got[5] == "und"       # null text scores 0 everywhere
