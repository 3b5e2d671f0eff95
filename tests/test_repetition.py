"""Repetition filters: planted repeaters vs clean prose."""

from vision_parse_spark.operators.repetition import (
    repetition_filter,
    repetition_stats,
)


def _stats(spark, text):
    df = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    return repetition_stats(df).first()


def test_line_spam_detected(spark):
    spam = "\n".join(["BUY NOW cheap deals"] * 9 + ["one real line"])
    r = _stats(spark, spam)
    assert r.n_lines == 10
    assert abs(r.dup_line_frac - 0.8) < 1e-9  # 10 lines, 2 distinct


def test_keyword_stuffing_detected(spark):
    stuffed = "best price " * 30 + "contact us"
    r = _stats(spark, stuffed)
    assert r.top_bigram_frac > 0.4


def test_clean_prose_scores_low(spark):
    clean = ("The quick brown fox jumps over the lazy dog.\n"
             "Pack my box with five dozen liquor jugs.\n"
             "How vexingly quick daft zebras jump.")
    r = _stats(spark, clean)
    assert r.dup_line_frac == 0.0
    assert r.top_bigram_frac < 0.15


def test_empty_and_single_token(spark):
    for text in ["", "   \n  ", "word"]:
        r = _stats(spark, text)
        assert r.dup_line_frac == 0.0 and r.top_bigram_frac == 0.0
        assert r.n_bigrams == 0


def test_filter_drops_repeaters_keeps_prose(spark):
    df = spark.createDataFrame(
        [(0, "spam line\n" * 10),
         (1, "A perfectly normal paragraph with varied words here."),
         (2, "buy buy buy buy buy buy buy buy buy buy")],
        ["doc_id", "text"])
    kept = {r.doc_id for r in repetition_filter(df).collect()}
    assert kept == {1}


def test_curate_composition(spark):
    """curate() drops the low-quality, the repeater, and the near-dup
    while scrubbing PII from survivors."""
    from vision_parse_spark.operators.curation import curate

    good = ("The quick brown fox jumps over the lazy dog and then "
            "rests in the shade of a tall tree for a while. "
            "It is a calm afternoon in the forest and the animals "
            "are quiet. ")
    df = spark.createDataFrame(
        [(0, good + "Contact admin@example.com for details."),
         (1, good + "Contact admin@example.com for more details."),  # near-dup of 0
         (2, "spam line\n" * 12),                                    # repeater
         (3, "x")],                                                  # low quality
        ["doc_id", "text"])
    out = {r.doc_id: r.text for r in curate(df).collect()}
    assert set(out) == {0}
    assert "<EMAIL>" in out[0] and "admin@example.com" not in out[0]


def test_curate_gate_first_keeps_representative(spark):
    """Gate-first semantics (round 4): the near-dedup runs over the
    GATED corpus, so a duplicate cluster whose min-id member fails a
    gate still keeps one gate-passing representative.  Under the old
    dedup-first order this cluster would vanish entirely (min-id doc
    removed by the gate, its duplicate removed by the dedup)."""
    from vision_parse_spark.operators.curation import curate

    good = ("The quick brown fox jumps over the lazy dog and then "
            "rests in the shade of a tall tree for a while. "
            "It is a calm afternoon in the forest and the animals "
            "are quiet and the birds sing softly in the branches. ")
    # doc 0: same prose (near-dup of 1) + a repeated-line block that
    # trips the dup_line_frac gate; doc 1: clean duplicate, passes all
    df = spark.createDataFrame(
        [(0, good + ("\nspam line" * 12)),
         (1, good)],
        ["doc_id", "text"])
    out = {r.doc_id for r in curate(df).collect()}
    assert out == {1}


def _curate_full_inputs(spark):
    """(docs, eval, embeddings) with one crafted doc per stage."""
    good1 = ("The quick brown fox jumps over the lazy dog and then "
             "rests in the shade of a tall tree for a while. "
             "It is a calm afternoon in the forest and the animals "
             "are quiet and the birds sing softly in the branches. ")
    good2 = ("A gentle river winds through the valley and the small "
             "village wakes to the sound of bells in the morning. "
             "Bakers open their doors and the smell of bread drifts "
             "along the narrow cobbled streets of the old town. ")
    good3 = ("Far across the northern plain the long trains carry "
             "grain toward the harbour and the cranes swing slowly "
             "over the water. Workers call to each other and the "
             "gulls circle in the cold bright air above the docks. ")
    good5 = ("Under the warm lamplight the librarian sorts the "
             "returned books into neat piles and notes each title "
             "in the ledger. Outside the rain taps on the windows "
             "and the streets of the town shine in the evening. ")
    good8 = ("In the high meadow the shepherd counts the flock as "
             "the light fades and the first stars appear over the "
             "ridge. The dogs settle by the gate and the smoke "
             "rises from the hut in a thin and steady line. ")
    eval_text = ("This exact benchmark sentence must never appear "
                 "inside any training document of the corpus at all.")
    df = spark.createDataFrame(
        [(1, good1 + "Contact admin@example.com please reply soon."),
         (2, good2),
         (3, good3),                       # semantic near-dup of 2
         (4, good1 + "Contact admin@example.com respond quickly."),
         # ^ minhash near-dup of 1
         (5, "spam line\n" * 12),          # repeater gate
         (6, "x"),                         # quality gate
         (7, good5 + eval_text)],          # contaminated vs eval
        ["doc_id", "text"])
    # doc 8 has NO embedding row and must still survive SemDeDup
    df = df.union(spark.createDataFrame([(8, good8)],
                                        ["doc_id", "text"]))
    ev = spark.createDataFrame([(20, eval_text)], ["doc_id", "text"])
    basis = {i: [1.0 if j == i else 0.0 for j in range(8)]
             for i in range(8)}
    emb = spark.createDataFrame(
        [(1, basis[1]), (2, basis[2]), (3, basis[2]),  # 3 == 2
         (4, basis[4]), (5, basis[5]), (6, basis[6]), (7, basis[7])],
        ["vec_id", "embedding"])

    return df, ev, emb


def test_curate_full_composition(spark):
    """curate_full() chains all seven stages: each crafted doc is
    dropped by exactly one stage, the embedding-less doc passes the
    SemDeDup stage untouched (anti-join drop semantics), and the
    survivors come back span-normalized and PII-scrubbed."""
    from vision_parse_spark.operators.curation import curate_full

    df, ev, emb = _curate_full_inputs(spark)
    out = {r.doc_id: r.text
           for r in curate_full(df, ev, emb,
                                sem_k=2, sem_iters=1).collect()}
    assert set(out) == {1, 2, 8}
    # span stage rewrites survivors into normalized token space
    good2 = df.filter("doc_id = 2").first().text
    assert out[2] == " ".join(good2.lower().split())
    # PII scrub runs over the normalized text
    assert "<EMAIL>" in out[1] and "admin@example.com" not in out[1]


def test_curate_full_without_embedding_coverage(spark):
    """An embeddings table that covers no document leaves SemDeDup
    nothing to cluster: every document passes the stage, the same
    rows as with a cosine threshold no pair can reach."""
    from pyspark.sql import functions as F

    from vision_parse_spark.operators.curation import curate_full

    df, ev, emb = _curate_full_inputs(spark)
    elsewhere = emb.withColumn("vec_id", F.col("vec_id") + 1000)
    got = {tuple(r) for r in curate_full(df, ev, elsewhere).collect()}
    want = {tuple(r) for r in curate_full(df, ev, emb, sem_k=2,
                                          sem_iters=1,
                                          sem_threshold=2.0).collect()}
    assert got == want
    assert {r[0] for r in got} == {1, 2, 3, 8}
