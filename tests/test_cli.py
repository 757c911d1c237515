"""CLI staged-pipeline coverage: python -m polaroam_spark
{stops,cluster,label} chained through parquet stage dirs (the
reference's disk-staged batch-driver workflow, __main__.py)."""

from collections import Counter

import pytest

import pyspark.sql.functions as F


@pytest.mark.slow
def test_cli_stops_cluster_label(spark, tmpdir):
    from polaroam_spark.__main__ import main

    base = 1700006400
    rows = []
    for day in range(8):
        jit = day * 1e-5
        d0 = base + day * 86400
        for i in range(6):  # night stay (home)
            rows.append(("u1", 19.40 + jit, -99.10, d0 + i * 3600))
        for i in range(6):  # working-hours stay (work)
            rows.append(
                ("u1", 19.50 + jit, -99.20, d0 + 10 * 3600 + i * 3600)
            )
    pings = spark.createDataFrame(
        rows,
        "uid string, latitude double, longitude double, timestamp long",
    )
    src = str(tmpdir.join("pings"))
    pings.write.parquet(src)

    stops_out = str(tmpdir.join("stops"))
    assert main([
        "stops", "--input", src, "--output", stops_out, "--r1", "50",
    ]) == 0
    medians = spark.read.parquet(f"{stops_out}/stop_medians")
    assert medians.count() >= 16  # ~2 stops/day x 8 days

    cluster_out = str(tmpdir.join("clustered"))
    assert main([
        "cluster", "--input", f"{stops_out}/stop_medians",
        "--output", cluster_out, "--r2", "2000",
    ]) == 0
    clustered = spark.read.parquet(cluster_out)
    n_clusters = (
        clustered.filter(F.col("stop_locations") != -1)
        .select("stop_locations").distinct().count()
    )
    assert n_clusters == 2  # home + work

    label_out = str(tmpdir.join("labeled"))
    assert main([
        "label", "--input", cluster_out, "--output", label_out,
        "--total-days", "8",
    ]) == 0
    wide = spark.read.parquet(f"{label_out}/home_work_wide").collect()
    assert len(wide) == 1
    assert abs(wide[0].h_lat - 19.40) < 0.01
    assert abs(wide[0].w_lat - 19.50) < 0.01


def _row_set(df):
    return Counter(tuple(r) for r in df.collect())


def test_cli_mobility_chain_matches_in_memory(spark, tmpdir):
    """Each disk-staged output of stops -> cluster -> label holds the
    same rows as the in-memory StopDetect -> compute_dbscan ->
    detect_home -> detect_work -> home_work_wide chain, over several
    users with home, work and moving pings."""
    from polaroam_spark.__main__ import main
    from polaroam_spark.api import StopDetect
    from polaroam_spark.operators.homework import (
        detect_home,
        detect_work,
        home_work_wide,
        prepare_labeling,
    )

    base, days = 1700006400, 6
    rows = []
    for u in range(4):
        home = (19.40 + 0.3 * u, -99.10)
        work = (19.50 + 0.3 * u, -99.20 - 0.1 * u)
        for day in range(days):
            jit = day * 1e-5
            d0 = base + day * 86400
            for i in range(5):  # night stay
                rows.append((f"u{u}", home[0] + jit, home[1], d0 + i * 3600))
            for i in range(3):  # moving: far apart, never a stop
                rows.append((
                    f"u{u}", home[0] + 0.02 * (i + 1), home[1],
                    d0 + 7 * 3600 + i * 600,
                ))
            for i in range(5):  # working-hours stay
                rows.append((
                    f"u{u}", work[0] + jit, work[1],
                    d0 + 10 * 3600 + i * 3600,
                ))
    pings = spark.createDataFrame(
        rows,
        "uid string, latitude double, longitude double, timestamp long",
    )
    src = str(tmpdir.join("pings"))
    pings.write.parquet(src)

    stops_out = str(tmpdir.join("stops"))
    cluster_out = str(tmpdir.join("clustered"))
    label_out = str(tmpdir.join("labels"))
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main([
            "stops", "--input", src, "--output", stops_out, "--r1", "50",
        ]) == 0
        assert main([
            "cluster", "--input", f"{stops_out}/stop_medians",
            "--output", cluster_out, "--r2", "2000",
        ]) == 0
        assert main([
            "label", "--input", cluster_out, "--output", label_out,
            "--total-days", str(days),
        ]) == 0
    finally:
        # the CLI's get_spark resets the shared session's partitions
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_partitions)

    # cached so each comparison runs one stage of the chain, not the
    # whole lineage again
    model = StopDetect(r1=50, r2=2000)
    events = model.fit_predict(spark.read.parquet(src)).cache()
    medians = model.compute_label_medians()
    clustered = model.compute_dbscan().cache()
    labeled = detect_work(
        detect_home(prepare_labeling(clustered), total_days=days),
        total_days=days,
    ).cache()
    expected = {
        f"{stops_out}/stop_events": events,
        f"{stops_out}/stop_medians": medians,
        cluster_out: clustered,
        f"{label_out}/labeled": labeled,
        f"{label_out}/home_work_wide": home_work_wide(labeled),
    }
    try:
        for path, want in expected.items():
            got = spark.read.parquet(path)
            assert got.columns == want.columns, path
            got_rows = _row_set(got)
            assert got_rows == _row_set(want), path
            assert got_rows, path
    finally:
        for df in (events, clustered, labeled):
            df.unpersist()
    wide = {r.uid: r for r in spark.read.parquet(
        f"{label_out}/home_work_wide").collect()}
    assert sorted(wide) == [f"u{u}" for u in range(4)]
    for u in range(4):
        assert abs(wide[f"u{u}"].h_lat - (19.40 + 0.3 * u)) < 0.01
        assert abs(wide[f"u{u}"].w_lat - (19.50 + 0.3 * u)) < 0.01


def test_cli_corpus_pipeline(spark, tmpdir):
    from polaroam_spark.__main__ import main

    src = f"{tmpdir}/docs_in"
    out = f"{tmpdir}/docs_out"
    good = " ".join(["the quick brown fox jumps over a lazy dog"] * 8)
    rows = [
        (0, good + " zero", "s0"),
        (1, good + " zero", "s0"),      # exact dup of 0
        (2, good + " two", "s0"),
        (3, "too short", "s1"),         # fails gopher
        (4, good + " four", "s1"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).write.parquet(src)

    rc = main([
        "corpus", "--input", src, "--output", out,
        "--dedup", "exact", "--gopher-filter",
        "--cap-per-source", "1",
    ])
    assert rc == 0
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    # dup 1 collapsed into 0; 3 fails gopher; cap keeps 1 per source
    assert len(kept) == 2
    assert kept[1] == 4  # s1's only survivor
    assert kept[0] in (0, 2)  # s0's capped survivor


def test_cli_tokenize_encode_and_pack(spark, tmpdir):
    """tokenize stage: train-in-place + persist model, exact counts
    in encode mode; reload the SAME model files for pack mode and
    get full windows only."""
    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.tokenize import (
        encode_text,
        load_bpe,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + "the quick brown fox " * 4)
         for i in range(20)],
        "doc_id long, text string",
    )
    src = f"{tmpdir}/tok_in"
    docs.write.parquet(src)
    vp, mp = f"{tmpdir}/vocab.json", f"{tmpdir}/merges.txt"
    enc_out = f"{tmpdir}/tok_ids"
    assert main([
        "tokenize", "--input", src, "--output", enc_out,
        "--train-vocab-size", "300",
        "--save-vocab", vp, "--save-merges", mp,
    ]) == 0
    got = {r.doc_id: r for r in spark.read.parquet(enc_out).collect()}
    model = load_bpe(vp, mp)
    for r in docs.collect():
        want = encode_text(model, r.text)
        assert list(got[r.doc_id].token_ids) == want
        assert got[r.doc_id].n_tokens == len(want)

    pack_out = f"{tmpdir}/tok_packs"
    assert main([
        "tokenize", "--input", src, "--output", pack_out,
        "--mode", "pack", "--vocab", vp, "--merges", mp,
        "--seq-len", "32", "--num-shards", "2",
    ]) == 0
    packs = spark.read.parquet(pack_out).collect()
    assert packs and all(r.n_tokens == 32 for r in packs)
    assert {r.shard for r in packs} <= {0, 1}


@pytest.mark.slow
def test_cli_quality_train_score_eval(spark, tmpdir):
    """quality stage: train on a labeled parquet persisting the model
    JSON, score a corpus with the reloaded model (matches the library
    scorer exactly), evaluate the scored frame to the one-row
    artifact."""
    import json

    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.quality import (
        score_quality_classifier,
    )

    rows = []
    for i in range(30):
        rows.append((i, "clean readable prose about history " + f"x{i%5}", 1))
        rows.append((900 + i, "buy click spam free offer now " + f"y{i%5}", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    src = f"{tmpdir}/q_in"
    df.write.parquet(src)
    model_path = f"{tmpdir}/quality_model.json"
    assert main([
        "quality", "--mode", "train", "--input", src,
        "--model", model_path, "--num-buckets", "512",
        "--n-iter", "30", "--learning-rate", "10.0",
    ]) == 0
    model = json.load(open(model_path))
    assert model["num_buckets"] == 512 and model["normalize"] is True

    scored_out = f"{tmpdir}/q_scored"
    assert main([
        "quality", "--mode", "score", "--input", src,
        "--model", model_path, "--output", scored_out,
    ]) == 0
    got = {
        r.doc_id: r.quality_prob
        for r in spark.read.parquet(scored_out).collect()
    }
    want = {
        r.doc_id: r.quality_prob
        for r in score_quality_classifier(df, model).collect()
    }
    assert got == want

    eval_out = f"{tmpdir}/q_eval"
    assert main([
        "quality", "--mode", "eval", "--input", scored_out,
        "--output", eval_out,
    ]) == 0
    ev = spark.read.parquet(eval_out).collect()[0]
    assert ev.n == 60 and ev.accuracy == 1.0 and ev.auc == 1.0


@pytest.mark.slow
def test_cli_corpus_classifier_filter(spark, tmpdir):
    """corpus stage composes the trained classifier: only rows the
    model scores above threshold survive."""
    import json

    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.quality import (
        score_quality_classifier,
        train_quality_classifier,
    )

    rows = []
    for i in range(30):
        rows.append((i, "clean readable prose about history " + f"x{i%5}", 1))
        rows.append((900 + i, "buy click spam free offer now " + f"y{i%5}", 0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label int")
    model = train_quality_classifier(
        df, n_iter=30, num_buckets=512, learning_rate=10.0
    )
    src, out = f"{tmpdir}/c_in", f"{tmpdir}/c_out"
    df.select("doc_id", "text").write.parquet(src)
    mp = f"{tmpdir}/c_model.json"
    json.dump(model, open(mp, "w"))
    assert main([
        "corpus", "--input", src, "--output", out,
        "--classifier-model", mp,
    ]) == 0
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    want = {
        r.doc_id
        for r in score_quality_classifier(df, model).collect()
        if r.quality_prob >= 0.5
    }
    assert got == want and 0 < len(got) < 60


def test_cli_corpus_mixture_stage(spark, tmpdir):
    """corpus stage composes the mixture waterfill: survivors equal
    the library's plan + deterministic-draw execution."""
    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.curation import (
        apply_mixture_plan,
        mixture_plan,
    )
    from polaroam_spark.operators.textstats import token_count
    from pyspark.sql import functions as F

    rows = [
        (i, "web" if i % 2 == 0 else "code",
         "some words here repeated " * (2 + i % 3))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    src, out = f"{tmpdir}/mx_in", f"{tmpdir}/mx_out"
    df.write.parquet(src)
    assert main([
        "corpus", "--input", src, "--output", out, "--dedup", "none",
        "--mixture-targets", '{"web": 0.8, "code": 0.2}',
        "--mixture-budget", "800", "--seed", "17",
    ]) == 0
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    stats = df.groupBy("source").agg(
        F.sum(token_count("text")).alias("n_tokens")
    )
    plan = mixture_plan(stats, 800, {"web": 0.8, "code": 0.2})
    from polaroam_spark.__main__ import _MIXTURE_SEED_SALT

    want = {
        r.doc_id
        for r in apply_mixture_plan(
            df, plan, seed=17 + _MIXTURE_SEED_SALT
        ).collect()
    }
    assert got == want and 0 < len(got) < 200


def test_cli_corpus_mixture_then_sample_independent(spark, tmpdir):
    """--mixture-targets composed with --sample-fraction must thin
    each mixture group by ~fraction independently: a shared seed
    would make both stages threshold the SAME uniform, keeping
    u < min(rate, fraction) — i.e. the raw fraction-sample of every
    group, mixture destroyed (ADVICE r14)."""
    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.sampling import sample_by_hash

    rows = [
        (i, "web" if i % 4 else "code", "tok " * 40)
        for i in range(400)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    src = f"{tmpdir}/mxs_in"
    out = f"{tmpdir}/mxs_out"
    df.write.parquet(src)
    # code available ~4k tokens, target share 0.5 of budget 4000 →
    # code rate ~0.5; web rate ~0.17. fraction=0.15 <= both rates,
    # so under the shared-seed bug the output would equal the plain
    # fraction-sample of the whole input.
    assert main([
        "corpus", "--input", src, "--output", out, "--dedup", "none",
        "--mixture-targets", '{"web": 0.5, "code": 0.5}',
        "--mixture-budget", "4000", "--seed", "17",
        "--sample-fraction", "0.15",
    ]) == 0
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    plain = {
        r.doc_id
        for r in sample_by_hash(
            df, key="doc_id", fraction=0.15, seed=17
        ).collect()
    }
    # with independent draws the composition is a strict thinning of
    # the plain sample; under the shared-seed bug got == plain exactly
    assert got.issubset(plain)
    assert 0 < len(got) < len(plain)


def test_cli_tokenize_unigram_family(spark, tmpdir):
    """tokenize --family unigram: train-in-place + persist TSV, exact
    counts and driver-replay id equality; reload the model and encode
    identically; pack mode refuses loudly."""
    import pytest

    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.unigram import (
        encode_text_unigram,
        load_unigram,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i} " + "the quick brown fox " * 4)
         for i in range(20)],
        "doc_id long, text string",
    )
    src = f"{tmpdir}/uni_in"
    docs.write.parquet(src)
    mp = f"{tmpdir}/unigram.tsv"
    out1 = f"{tmpdir}/uni_ids"
    assert main([
        "tokenize", "--family", "unigram", "--input", src,
        "--output", out1, "--train-vocab-size", "300",
        "--save-model", mp,
    ]) == 0
    got = {r.doc_id: r for r in spark.read.parquet(out1).collect()}
    model = load_unigram(mp)
    for r in docs.collect():
        want = encode_text_unigram(model, r.text)
        assert list(got[r.doc_id].token_ids) == want
        assert got[r.doc_id].n_tokens == len(want)

    out2 = f"{tmpdir}/uni_ids2"
    assert main([
        "tokenize", "--family", "unigram", "--input", src,
        "--output", out2, "--model", mp,
    ]) == 0
    got2 = {r.doc_id: r for r in spark.read.parquet(out2).collect()}
    assert all(
        list(got2[k].token_ids) == list(v.token_ids)
        for k, v in got.items()
    )

    with pytest.raises(SystemExit, match="unigram"):
        main([
            "tokenize", "--family", "unigram", "--input", src,
            "--output", f"{tmpdir}/nope", "--mode", "pack",
            "--model", mp,
        ])


def test_cli_langid_train_score_filter(spark, tmpdir):
    """langid stage: train on a planted bilingual corpus, model JSON
    round-trips, score predicts the planted classes, and
    --keep-languages filters; unknown class names refuse loudly."""
    import pytest

    from polaroam_spark.__main__ import main

    en = " the of and to is that it for"
    es = " el que y un por con los para"
    train = spark.createDataFrame(
        [(i, ("en" if i % 2 == 0 else "es"),
          f"doc {i}" + (en if i % 2 == 0 else es) * 10)
         for i in range(40)],
        "doc_id long, language string, text string",
    )
    src = f"{tmpdir}/lang_train"
    train.write.parquet(src)
    mp = f"{tmpdir}/langid.json"
    assert main([
        "langid", "--mode", "train", "--input", src, "--model", mp,
        "--num-buckets", "256", "--n-iter", "10",
        "--learning-rate", "5.0",
    ]) == 0

    docs = spark.createDataFrame(
        [(100, "hello" + en * 8), (101, "hola" + es * 8)],
        "doc_id long, text string",
    )
    dsrc = f"{tmpdir}/lang_docs"
    docs.write.parquet(dsrc)
    out = f"{tmpdir}/lang_scored"
    assert main([
        "langid", "--input", dsrc, "--model", mp, "--output", out,
    ]) == 0
    got = {r.doc_id: r.language_pred
           for r in spark.read.parquet(out).collect()}
    assert got == {100: "en", 101: "es"}

    out2 = f"{tmpdir}/lang_kept"
    assert main([
        "langid", "--input", dsrc, "--model", mp, "--output", out2,
        "--keep-languages", "es",
    ]) == 0
    kept = [r.doc_id for r in spark.read.parquet(out2).collect()]
    assert kept == [101]

    with pytest.raises(SystemExit, match="not in the model"):
        main([
            "langid", "--input", dsrc, "--model", mp,
            "--output", f"{tmpdir}/nope", "--keep-languages", "fr",
        ])


def test_cli_corpus_mixture_report_artifact(spark, tmpdir):
    """--mixture-report writes the achieved-vs-target data card for
    the executed mixture (one row per plan group, counts matching a
    recount of the written corpus)."""
    from polaroam_spark.__main__ import main

    rows = [
        (i, "web" if i % 2 == 0 else "code",
         "some words here repeated " * (2 + i % 3))
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    )
    src = f"{tmpdir}/mr_in"
    out = f"{tmpdir}/mr_out"
    rep = f"{tmpdir}/mr_report"
    df.write.parquet(src)
    assert main([
        "corpus", "--input", src, "--output", out, "--dedup", "none",
        "--mixture-targets", '{"web": 0.8, "code": 0.2}',
        "--mixture-budget", "800", "--seed", "17",
        "--mixture-report", rep,
    ]) == 0
    card = {r.source: r for r in spark.read.parquet(rep).collect()}
    assert set(card) == {"web", "code"}
    kept = spark.read.parquet(out).collect()
    for s in ("web", "code"):
        n_docs = sum(1 for r in kept if r.source == s)
        n_toks = sum(
            len(r.text.split()) for r in kept if r.source == s
        )
        assert card[s].achieved_docs == n_docs
        assert card[s].achieved_tokens == n_toks
    total = sum(r.achieved_tokens for r in card.values())
    assert abs(sum(
        r.achieved_share for r in card.values()
    ) - 1.0) < 1e-9
    assert card["web"].achieved_share == card["web"].achieved_tokens / total


@pytest.mark.slow
def test_cli_perplexity_score_and_filter(spark, tmpdir):
    """perplexity stage: scores match the library call row-for-row;
    --threshold keeps the fluent tail and drops NULL-score rows."""
    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.textstats import (
        kn_trigram_logprob_vs_reference,
    )

    ref = spark.createDataFrame(
        [(i, "the cat sat on the mat and the dog ran to the rug")
         for i in range(4)],
        "doc_id long, text string",
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"),
         (2, "zzz qqq www eee rrr ttt"),
         (3, "one two")],
        "doc_id long, text string",
    )
    rsrc, dsrc = f"{tmpdir}/ppl_ref", f"{tmpdir}/ppl_docs"
    ref.write.parquet(rsrc)
    docs.write.parquet(dsrc)
    out = f"{tmpdir}/ppl_scored"
    assert main([
        "perplexity", "--input", dsrc, "--reference", rsrc,
        "--output", out,
    ]) == 0
    got = {r.doc_id: r.mean_kn_logprob
           for r in spark.read.parquet(out).collect()}
    want = {r.doc_id: r.mean_kn_logprob
            for r in kn_trigram_logprob_vs_reference(
                docs, ref).collect()}
    assert set(got) == {1, 2, 3} and got[3] is None
    for k in got:
        if want[k] is None:
            assert got[k] is None
        else:
            assert abs(got[k] - want[k]) < 1e-9
    assert got[1] > got[2]

    out2 = f"{tmpdir}/ppl_kept"
    assert main([
        "perplexity", "--input", dsrc, "--reference", rsrc,
        "--output", out2, "--threshold", str((got[1] + got[2]) / 2),
    ]) == 0
    kept = [r.doc_id for r in spark.read.parquet(out2).collect()]
    assert kept == [1]


@pytest.mark.slow
def test_cli_sft_windows(spark, tmpdir):
    """sft stage: BPE-tokenized loss-masked windows match the
    library composition; a malformed batch quarantines loudly; the
    unigram TSV path works too."""
    import pytest

    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.tokenize import save_bpe, train_bpe
    from polaroam_spark.operators.unigram import (
        save_unigram,
        train_unigram,
    )

    convs = spark.createDataFrame(
        [
            (i, [("user", f"question {i} about things"),
                 ("assistant", f"answer {i} with words " * 3)])
            for i in range(20)
        ],
        "doc_id long, messages array<struct<role string, content string>>",
    )
    texts = spark.createDataFrame(
        [(i, f"question answer {i} about things with words")
         for i in range(20)],
        "doc_id long, text string",
    )
    src = f"{tmpdir}/sft_in"
    convs.write.parquet(src)
    bpe = train_bpe(texts, vocab_size=300)
    vp, mp = f"{tmpdir}/sft_vocab.json", f"{tmpdir}/sft_merges.txt"
    save_bpe(bpe, vp, mp)
    out = f"{tmpdir}/sft_out"
    assert main([
        "sft", "--input", src, "--output", out,
        "--vocab", vp, "--merges", mp, "--seq-len", "32",
    ]) == 0
    rows = spark.read.parquet(out).collect()
    assert rows
    assert all(len(r.token_ids) == 32 == len(r.loss_mask) for r in rows)
    assert all(r.n_loss_tokens > 0 for r in rows)  # default drop

    uni = train_unigram(texts, vocab_size=256 + 80)
    up = f"{tmpdir}/sft_uni.tsv"
    save_unigram(uni, up)
    out2 = f"{tmpdir}/sft_out_uni"
    assert main([
        "sft", "--input", src, "--output", out2,
        "--model", up, "--seq-len", "32",
    ]) == 0
    assert spark.read.parquet(out2).count() > 0

    # --packed: ~pad-free windows with segment/position ids; total
    # loss tokens equal the padded run's (keep-no-loss on both so
    # the accounting is closed)
    outp = f"{tmpdir}/sft_out_packed"
    assert main([
        "sft", "--input", src, "--output", outp,
        "--vocab", vp, "--merges", mp, "--seq-len", "32",
        "--packed", "--num-shards", "4", "--keep-no-loss",
    ]) == 0
    packed = spark.read.parquet(outp).collect()
    assert packed
    assert all(
        len(r.token_ids) == 32 == len(r.segment_ids) for r in packed
    )
    outk = f"{tmpdir}/sft_out_keep"
    assert main([
        "sft", "--input", src, "--output", outk,
        "--vocab", vp, "--merges", mp, "--seq-len", "32",
        "--keep-no-loss",
    ]) == 0
    padded_loss = sum(
        r.n_loss_tokens for r in spark.read.parquet(outk).collect()
    )
    assert sum(r.n_loss_tokens for r in packed) == padded_loss
    # packing pads at most (seq_len - 1) per shard
    assert sum(r.n_padding for r in packed) <= 4 * 31

    bad = spark.createDataFrame(
        [(99, [("user", None)])],
        "doc_id long, messages array<struct<role string, content string>>",
    )
    bsrc = f"{tmpdir}/sft_bad"
    bad.write.parquet(bsrc)
    with pytest.raises(ValueError, match="no_null_turns"):
        main([
            "sft", "--input", bsrc, "--output", f"{tmpdir}/nope",
            "--vocab", vp, "--merges", mp,
        ])
    with pytest.raises(SystemExit, match="tokenizer"):
        main([
            "sft", "--input", src, "--output", f"{tmpdir}/nope2",
        ])


@pytest.mark.slow
def test_cli_tokenize_wordpiece_family(spark, tmpdir):
    """tokenize --family wordpiece: trains on the fly, persists a
    BERT vocab.txt via --save-model, reload encodes identically;
    pack mode is loudly unsupported."""
    import pytest

    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.wordpiece import (
        encode_text_wordpiece,
        load_wordpiece,
    )

    docs = spark.createDataFrame(
        [(i, f"the cat sat on mat number {i} and purred")
         for i in range(8)],
        "doc_id long, text string",
    )
    src = f"{tmpdir}/wp_docs"
    docs.write.parquet(src)
    out = f"{tmpdir}/wp_ids"
    model_path = f"{tmpdir}/wp_vocab.txt"
    assert main([
        "tokenize", "--family", "wordpiece", "--input", src,
        "--output", out, "--train-vocab-size", "400",
        "--save-model", model_path,
    ]) == 0
    rows = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 8
    m = load_wordpiece(model_path)
    for i, r in rows.items():
        want = encode_text_wordpiece(
            m, f"the cat sat on mat number {i} and purred"
        )
        assert list(r.token_ids) == want
        assert r.n_tokens == len(want)
    with pytest.raises(SystemExit, match="wordpiece"):
        main([
            "tokenize", "--family", "wordpiece", "--mode", "pack",
            "--input", src, "--output", f"{tmpdir}/wp_nope",
        ])


@pytest.mark.slow
def test_cli_perplexity_buckets(spark, tmpdir):
    """perplexity --buckets: per-group CCNet bands match the direct
    perplexity_buckets replay; 'all' labels without dropping;
    threshold+buckets together is loud."""
    import pytest

    from pyspark.sql import functions as F

    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.textstats import (
        kn_ngram_logprob_vs_reference,
        perplexity_buckets,
    )

    base = [
        "the cat sat on the mat", "the dog sat on the mat",
        "the cat ran to the dog", "different sentence structure",
        "zx qv jk wp out of domain", "the mat sat on the cat",
    ]
    rows = [
        (i * 10 + j, t + f" v{j}", ["en", "de"][i % 2])
        for i, t in enumerate(base) for j in range(3)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    ref = docs.filter(F.col("doc_id") % 3 == 0)
    dsrc, rsrc = f"{tmpdir}/ppb_docs", f"{tmpdir}/ppb_ref"
    docs.write.parquet(dsrc)
    ref.write.parquet(rsrc)

    out = f"{tmpdir}/ppb_kept"
    assert main([
        "perplexity", "--input", dsrc, "--reference", rsrc,
        "--output", out, "--buckets", "head,middle",
        "--group-col", "lang",
    ]) == 0
    got = {r.doc_id for r in spark.read.parquet(out).collect()}
    scored = kn_ngram_logprob_vs_reference(docs, ref, order=3)
    want = {
        r.doc_id
        for r in perplexity_buckets(scored, group_col="lang")
        .filter(F.col("perplexity_bucket").isin(["head", "middle"]))
        .collect()
    }
    assert got == want and got

    out2 = f"{tmpdir}/ppb_all"
    assert main([
        "perplexity", "--input", dsrc, "--reference", rsrc,
        "--output", out2, "--buckets", "all",
    ]) == 0
    labeled = spark.read.parquet(out2)
    assert labeled.count() == len(rows)
    assert "perplexity_bucket" in labeled.columns

    with pytest.raises(SystemExit, match="mutually exclusive"):
        main([
            "perplexity", "--input", dsrc, "--reference", rsrc,
            "--output", f"{tmpdir}/ppb_x", "--buckets", "head",
            "--threshold", "-5",
        ])
    with pytest.raises(SystemExit, match="head/middle/tail"):
        main([
            "perplexity", "--input", dsrc, "--reference", rsrc,
            "--output", f"{tmpdir}/ppb_y", "--buckets", "best",
        ])


def test_cli_objectives_stage(spark, tmpdir):
    """objectives stage: all three modes write deterministic
    outputs matching the library calls id-for-id."""
    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.objectives import (
        fim_transform,
        span_corruption,
    )

    rows = [(i, list(range(1, 9 + (i % 5)))) for i in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id long, token_ids array<int>"
    )
    src = f"{tmpdir}/obj_ids"
    df.write.parquet(src)

    out = f"{tmpdir}/obj_span"
    assert main([
        "objectives", "--input", src, "--output", out,
        "--objective", "span", "--seed", "7",
    ]) == 0
    got = {r.doc_id: (list(r.inputs), list(r.targets))
           for r in spark.read.parquet(out).collect()}
    # the CLI's sentinel default is 100000 (shared with FIM);
    # the library's T5-convention default is 32099
    want = {r.doc_id: (list(r.inputs), list(r.targets))
            for r in span_corruption(
                df, seed=7, sentinel_start=100_000).collect()}
    assert got == want

    out2 = f"{tmpdir}/obj_fim"
    assert main([
        "objectives", "--input", src, "--output", out2,
        "--objective", "fim", "--fim-rate", "1.0", "--seed", "7",
    ]) == 0
    got2 = {r.doc_id: (list(r.fim_ids), r.fim_mode)
            for r in spark.read.parquet(out2).collect()}
    want2 = {r.doc_id: (list(r.fim_ids), r.fim_mode)
             for r in fim_transform(df, fim_rate=1.0, seed=7).collect()}
    assert got2 == want2

    out3 = f"{tmpdir}/obj_prefix"
    assert main([
        "objectives", "--input", src, "--output", out3,
        "--objective", "prefix",
    ]) == 0
    for r in spark.read.parquet(out3).collect():
        assert list(r.inputs) + list(r.targets) == list(r.token_ids)

    out4 = f"{tmpdir}/obj_ul2"
    assert main([
        "objectives", "--input", src, "--output", out4,
        "--objective", "ul2", "--ul2-rates", "0.4,0.3,0.2,0.1",
        "--seed", "7",
    ]) == 0
    from polaroam_spark.operators.objectives import ul2_mixture

    want4 = {
        r.doc_id: (r.inputs, r.targets, r.denoiser)
        for r in ul2_mixture(
            df,
            rates={"r": 0.4, "s": 0.3, "x": 0.2, "fim": 0.1},
            sentinel_start=100_000,
            fim_sentinels=(100_001, 100_002, 100_003),
            seed=7,
        ).collect()
    }
    got4 = {
        r.doc_id: (r.inputs, r.targets, r.denoiser)
        for r in spark.read.parquet(out4).collect()
    }
    assert got4 == want4
    assert {v[2].split(":")[0] for v in got4.values()} <= {
        "r", "s", "x", "fim"
    }


def test_cli_sft_wordpiece_model(spark, tmpdir):
    """sft stage accepts a WordPiece vocab.txt: masks land on the
    assistant content under the third family's encoder."""
    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.wordpiece import (
        save_wordpiece,
        train_wordpiece,
    )

    texts = spark.createDataFrame(
        [(i, f"question {i} about cats") for i in range(6)],
        "doc_id long, text string",
    )
    wp = train_wordpiece(texts, vocab_size=400)
    vp = f"{tmpdir}/sft_wp_vocab.txt"
    save_wordpiece(wp, vp)

    from pyspark.sql import functions as F

    convs = texts.select(
        "doc_id",
        F.array(
            F.struct(F.lit("user").alias("role"),
                     F.col("text").alias("content")),
            F.struct(F.lit("assistant").alias("role"),
                     F.lit("a fine answer").alias("content")),
        ).alias("messages"),
    )
    src = f"{tmpdir}/sft_wp_in"
    convs.write.parquet(src)
    out = f"{tmpdir}/sft_wp_out"
    assert main([
        "sft", "--input", src, "--output", out,
        "--wordpiece-vocab", vp, "--seq-len", "64",
    ]) == 0
    rows = spark.read.parquet(out).collect()
    assert rows
    for r in rows:
        assert len(r.token_ids) == 64
        assert sum(r.loss_mask) > 0


def test_cli_diff(spark, tmpdir, capsys):
    from polaroam_spark.__main__ import main

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "c2"), (4, "d")], "id long, v string"
    )
    po, pn = str(tmpdir.join("old")), str(tmpdir.join("new"))
    old.write.parquet(po)
    new.write.parquet(pn)
    out = str(tmpdir.join("diff"))
    assert main([
        "diff", "--old", po, "--new", pn, "--output", out,
        "--key", "id",
    ]) == 0
    got = {
        r.id: r.diff_status
        for r in spark.read.parquet(out).collect()
    }
    assert got == {1: "removed", 3: "changed", 4: "added"}
    printed = capsys.readouterr().out
    assert "added: 1" in printed and "changed: 1" in printed


def test_cli_batch_plan(spark, tmpdir, capsys):
    from polaroam_spark.__main__ import main

    docs = spark.createDataFrame(
        [(i, "tok " * (10 + i % 50)) for i in range(40)],
        "doc_id long, text string",
    )
    src = str(tmpdir.join("docs"))
    docs.write.parquet(src)
    out = str(tmpdir.join("plan"))
    assert main([
        "batch-plan", "--input", src, "--output", out,
        "--batch-tokens", "256",
    ]) == 0
    plan = spark.read.parquet(out)
    assert {"padded_len", "batch_id"} <= set(plan.columns)
    assert plan.count() == 40
    printed = capsys.readouterr().out
    assert "padding_frac=" in printed and "seqs=40" in printed


def test_cli_tokenize_prune_to(spark, tmpdir):
    from polaroam_spark.__main__ import main

    docs = spark.createDataFrame(
        [(i, "walking walker walked running " * 3) for i in range(8)],
        "doc_id long, text string",
    )
    src = str(tmpdir.join("docs"))
    docs.write.parquet(src)
    out = str(tmpdir.join("ids"))
    model_path = str(tmpdir.join("pruned.tsv"))
    assert main([
        "tokenize", "--input", src, "--output", out,
        "--family", "unigram", "--train-vocab-size", "300",
        "--prune-to", "266", "--save-model", model_path,
    ]) == 0
    from polaroam_spark.operators.unigram import load_unigram

    pruned = load_unigram(model_path)
    assert len(pruned["scores"]) <= 10
    enc = spark.read.parquet(out)
    assert enc.count() == 8 and "token_ids" in enc.columns
    # --prune-to rejected for BPE
    import pytest as _pt

    with _pt.raises(SystemExit, match="prune-to"):
        main([
            "tokenize", "--input", src, "--output", out,
            "--prune-to", "300",
        ])


def test_cli_corpus_signal_gates(spark, tmpdir):
    from polaroam_spark.__main__ import main

    docs = spark.createDataFrame(
        [
            (1, "a perfectly ordinary document with many words", "a"),
            (2, "contains spam inside otherwise fine words", "a"),
            (3, "buy buy buy buy buy buy buy buy", "a"),  # low entropy
        ],
        "doc_id long, text string, source string",
    )
    src = str(tmpdir.join("docs"))
    docs.write.parquet(src)
    out = str(tmpdir.join("kept"))
    assert main([
        "corpus", "--input", src, "--output", out,
        "--dedup", "none",
        "--badwords", "spam,junk",
        "--min-token-entropy", "1.5",
    ]) == 0
    kept = {r.doc_id for r in spark.read.parquet(out).collect()}
    assert kept == {1}


def test_cli_domain_report(spark, tmpdir, capsys):
    from polaroam_spark.__main__ import main

    docs = spark.createDataFrame(
        [
            (1, "https://www.ex.com/a", "one two", 0.5, True),
            (2, "https://cdn.ex.com/b", "three", 0.7, False),
            (3, "https://site.co.uk/c", "four five six", 0.9, True),
        ],
        "doc_id long, url string, text string, q double, kept boolean",
    )
    src = str(tmpdir.join("docs"))
    docs.write.parquet(src)
    out = str(tmpdir.join("report"))
    assert main([
        "domain-report", "--input", src, "--output", out,
        "--quality-col", "q", "--kept-col", "kept",
    ]) == 0
    got = {
        r.registered_domain: r for r in spark.read.parquet(out).collect()
    }
    assert got["ex.com"].n_docs == 2 and got["ex.com"].n_hosts == 2
    assert got["ex.com"].n_kept == 1
    assert "ex.com: docs=2 hosts=2" in capsys.readouterr().out
    # PSL file switches to site keys
    psl = tmpdir.join("psl.txt")
    psl.write("// comment\ncom\nuk\nco.uk\n")
    out2 = str(tmpdir.join("report2"))
    assert main([
        "domain-report", "--input", src, "--output", out2,
        "--suffix-file", str(psl),
    ]) == 0
    doms = {
        r.registered_domain
        for r in spark.read.parquet(out2).collect()
    }
    assert "site.co.uk" in doms


def test_cli_memorization_scan(spark, tmpdir, capsys):
    from polaroam_spark.__main__ import main

    span = " ".join(f"w{i}" for i in range(12))
    corpus = spark.createDataFrame(
        [(1, "pre " + span + " post"), (2, "other text entirely")],
        "doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(100, span), (101, "q1 q2 q3 q4 q5 q6 q7 q8 q9"), (102, "tiny")],
        "doc_id long, text string",
    )
    pc, pp = str(tmpdir.join("corpus")), str(tmpdir.join("probes"))
    corpus.write.parquet(pc)
    probes.write.parquet(pp)
    out = str(tmpdir.join("scan"))
    assert main([
        "memorization-scan", "--corpus", pc, "--probes", pp,
        "--output", out, "--n", "8",
    ]) == 0
    got = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert got[100].memorized and list(got[100].matched_doc_ids) == [1]
    assert not got[101].memorized
    assert got[102].too_short
    printed = capsys.readouterr().out
    assert "probes: 3  memorized: 1  too_short: 1" in printed


def test_cli_domain_report_rejects_psl_rules(spark, tmpdir):
    import pytest as _pt

    from polaroam_spark.__main__ import main

    docs = spark.createDataFrame(
        [(1, "https://a.ex.com/x", "t")],
        "doc_id long, url string, text string",
    )
    src = str(tmpdir.join("docs"))
    docs.write.parquet(src)
    psl = tmpdir.join("raw_psl.dat")
    psl.write("  // indented comment\ncom\n*.ck\n!www.ck\n")
    with _pt.raises(SystemExit, match="wildcard"):
        main([
            "domain-report", "--input", src,
            "--output", str(tmpdir.join("out")),
            "--suffix-file", str(psl),
        ])


def test_cli_eval_prep_both_modes(spark, tmpdir, capsys):
    from polaroam_spark.__main__ import main
    from polaroam_spark.operators.tokenize import save_bpe, train_bpe

    items = spark.createDataFrame(
        [
            (
                i,
                f"Q{i}: pick the right one. A:",
                " right",
                [" right", " wrong", " worse"],
                0,
            )
            for i in range(12)
        ],
        "item_id long, input string, target string, "
        "choices array<string>, answer int",
    )
    texts = spark.createDataFrame(
        [(i, "pick the right one wrong worse answer " * 2)
         for i in range(8)],
        "doc_id long, text string",
    )
    src = f"{tmpdir}/eval_items"
    items.write.parquet(src)
    bpe = train_bpe(texts, vocab_size=290)
    vp, mp = f"{tmpdir}/ev_vocab.json", f"{tmpdir}/ev_merges.txt"
    save_bpe(bpe, vp, mp)

    out_ll = f"{tmpdir}/eval_ll"
    assert main([
        "eval-prep", "--items", src, "--output", out_ll,
        "--mode", "loglikelihood", "--k", "2",
        "--vocab", vp, "--merges", mp,
    ]) == 0
    ll = spark.read.parquet(out_ll).collect()
    assert len(ll) == 12
    assert all(r.n_shots == 2 for r in ll)
    assert all(sum(r.loss_mask) > 0 for r in ll)
    assert "items: 12  rows: 12" in capsys.readouterr().out

    out_mc = f"{tmpdir}/eval_mc"
    assert main([
        "eval-prep", "--items", src, "--output", out_mc,
        "--mode", "choices", "--k", "2",
        "--vocab", vp, "--merges", mp,
    ]) == 0
    mc = spark.read.parquet(out_mc).collect()
    assert len(mc) == 36  # 12 items x 3 choices
    by_item: dict = {}
    for r in mc:
        by_item.setdefault(r.item_id, []).append(r)
    for rs in by_item.values():
        # exactly one gold row per item, and it decodes the gold
        # text even after the shuffle
        golds = [r for r in rs if r.is_gold]
        assert len(golds) == 1
        assert golds[0].choice_text == " right"
        # shared prompt prefix across the item's rows
        plen = {r.prompt_len for r in rs}
        assert len(plen) == 1
    # the shuffle moved gold off index 0 for at least one item
    assert any(
        next(r for r in rs if r.is_gold).choice_index != 0
        for rs in by_item.values()
    )
    # --no-shuffle keeps the gold-first layout
    out_ns = f"{tmpdir}/eval_ns"
    assert main([
        "eval-prep", "--items", src, "--output", out_ns,
        "--mode", "choices", "--k", "2", "--no-shuffle",
        "--vocab", vp, "--merges", mp,
    ]) == 0
    ns = spark.read.parquet(out_ns).collect()
    assert all(
        r.choice_index == 0
        for r in ns
        if r.is_gold
    )
    # missing tokenizer fails loudly
    import pytest as _pt

    with _pt.raises(SystemExit, match="bring a tokenizer"):
        main([
            "eval-prep", "--items", src,
            "--output", f"{tmpdir}/x",
        ])
